package graft.impl

import graft.ast._
import graft.api.{CypherError => CE}
import graft.graph.{NodeScanTable, NodeTableDef, PropertyGraph, RelScanTable, RelTableDef}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Compiles a parsed Cypher query straight to DataFrame operations.
  *
  * Collapses the reference's logical + relational layers
  * (okapi-logical/.../impl/LogicalPlanner.scala,
  * okapi-relational/.../impl/planning/RelationalPlanner.scala) into one pass:
  * the DataFrame *is* the logical plan and Catalyst does all physical
  * optimization (join selection, pushdown, pruning, AQE). Pattern planning is
  * greedy like the reference's planExpansions (LogicalPlanner.scala:369-433):
  * anchor on a bound endpoint, attach connections as joins, cross-join
  * disconnected components.
  */
object Planner {
  /** JVM-wide write-generation counter (fresh-id uniqueness across write
    * queries; see freshWriteId). */
  private[impl] val writeGenerations =
    new java.util.concurrent.atomic.AtomicInteger(0)

  sealed trait OutItem
  /** Plain value output column. */
  case class OutCol(internal: String, display: String) extends OutItem
  /** Whole-element output (node/rel/paths var) — assembled to a struct. */
  case class OutVar(v: String, display: String) extends OutItem
}

class Planner(spark: SparkSession, graph0: PropertyGraph,
    params: Map[String, Any] = Map.empty,
    drivingTable: Option[DataFrame] = None,
    resolveGraph: GraphRef => PropertyGraph = r =>
      throw new CypherCompileException(s"unknown graph $r (no catalog)"),
    extensions: Map[String, Seq[Column] => Column] = Map.empty,
    procedures: Map[String, (PropertyGraph, Seq[Any]) => DataFrame] = Map.empty) {

  /** Ambient graph; FROM GRAPH / USE switches it (plan-time only). */
  private var graph: PropertyGraph = graph0

  /** Set when the query ends in CONSTRUCT ... RETURN GRAPH. */
  var constructedGraph: Option[PropertyGraph] = None
  import Planner._
  import PropertyGraph.{ID, SRC, TGT, TYPE, propCol}

  private var anonCounter = 0
  private def freshVar(): String = { anonCounter += 1; s"_a$anonCounter" }

  /** Inside a pattern-predicate subplan every node var is a candidate for
    * endpoint elision (only shared ids escape the subplan); elsewhere only
    * anonymous vars are. Saved/restored because subplans can nest. */
  private var elideAllNodes = false
  private def withElideAll[T](f: => T): T = {
    val saved = elideAllNodes
    elideAllNodes = true
    try f finally elideAllNodes = saved
  }

  /** Named endpoint vars of the MATCH being planned that are provably never
    * observed afterwards (liveness over the remaining clauses) — candidates
    * for endpoint elision exactly like anonymous vars. Set per MATCH in
    * planSingle; a named-but-dead var must not defeat join elision (the
    * reference's schema-driven scan pruning, LogicalOptimizer.scala:67-134,
    * applied one step further). */
  private var deadVars: Set[String] = Set.empty

  /** Endpoint vars named in `m`'s pattern but never observed by `m` itself
    * (WHERE / inline props / path functions) nor by any later clause.
    * Binding occurrences downstream count as observations (a re-MATCH joins
    * on the id); RETURN * / WITH * kills the analysis. */
  private def deadEndpointVars(m: Match, rest: Seq[Clause]): Set[String] = {
    val downstream = rest.foldLeft(Option(Set.empty[String])) {
      case (None, _) => None
      case (Some(acc), c) => ExprOps.clauseRefs(c).map(acc ++ _)
    }
    downstream match {
      case None => Set.empty
      case Some(later) =>
        val observed = later ++ ExprOps.matchObservedVars(m)
        m.pattern.parts.flatMap { part =>
          (part.head +: part.tail.map(_._2)).flatMap(_.variable)
        }.toSet -- observed
    }
  }

  /** `ordSeq`: the anonymous var holding a monotone row-sequence column
    * stamped AFTER the most recent ORDER BY (WITH … ORDER BY). Cypher's
    * collect() respects the incoming row order, but Spark's collect_list
    * only happens to preserve it on few-partition local runs — after a
    * multi-partition range sort the final aggregation merges partials in
    * fetch order, which is NOT the sort order at scale. The marker lets a
    * following aggregation collect sort-aware (the 100 TB-correct shape);
    * it is consulted only if the column is still in scope, so clauses
    * that project it away simply lose the guarantee conservatively. */
  case class Ctx(df: DataFrame, header: RecordHeader,
      ordSeq: Option[String] = None) {
    def compiler: ExprCompiler = new ExprCompiler(header, df.schema, params, Map.empty, extensions)
    def isUnit: Boolean = header.slots.isEmpty && df.columns.isEmpty
  }

  private def unitCtx: Ctx = Ctx(spark.range(1).select(), RecordHeader.empty)

  /** Leaf context for the query: the driving table's columns become value
    * vars (DrivingTable leaf, LogicalOperator.scala:342). Pattern-predicate
    * and OPTIONAL MATCH subplans still start from the plain unit. */
  private def startCtx: Ctx = drivingTable match {
    case None => unitCtx
    case Some(df) =>
      var header = RecordHeader.empty
      var out = df
      df.columns.foreach { c =>
        val slot = ValueSlot(c)
        header = header.withSlot(slot).withVar(c, ValueKind)
        out = out.withColumnRenamed(c, RecordHeader.colName(slot))
      }
      Ctx(out, header)
  }

  // ------------------------------------------------------------------ entry
  def plan(q: Query): (DataFrame, Seq[OutItem], RecordHeader) = {
    checkUnionMix(q)
    val shared = planSharedPrefixes((q.first +: q.rest.map(_._2)).map(_.clauses))
    val (first, outs) = planSingle(q.first, shared)
    if (writeBegun) {
      if (q.rest.nonEmpty) throw new CypherCompileException(
        "write clauses cannot appear in a UNION query",
        CE.SyntaxError, CE.InvalidSyntax)
      updatedGraph = Some(buildWrittenGraph())
    }
    val combined = q.rest.foldLeft(first) { case (acc, (all, sq)) =>
      graph = graph0 // FROM GRAPH scopes to its branch, not the whole union
      val (r, rOuts) = planSingle(sq, shared)
      // Column NAMES must agree; ORDER may differ (Neo4j aligns by name,
      // and the physical union below is unionByName) — the first arm's
      // order wins in the result.
      if (rOuts.map(outDisplay).toSet != outs.map(outDisplay).toSet ||
          rOuts.size != outs.size)
        throw new CypherCompileException(
          "UNION sides must return the same columns",
          CE.SyntaxError, CE.DifferentColumnsInUnion)
      // Merge headers across branches: a branch may bind the same var with
      // different label/property sets ("RETURN n UNION ... RETURN m AS n");
      // unionByName null-fills the missing columns on each side, so the
      // merged header must carry every slot of every branch (the reference's
      // TabularUnionAll header alignment).
      val u = acc.df.unionByName(r.df, allowMissingColumns = true)
      Ctx(if (all) u else u.dropDuplicates(), acc.header ++ r.header)
    }
    (combined.df, outs, combined.header)
  }

  private def outDisplay(o: OutItem): String = o match {
    case OutCol(_, d) => d
    case OutVar(_, d) => d
  }

  /** Render the final user-facing DataFrame (display names, structs for
    * whole elements). */
  def render(df: DataFrame, outs: Seq[OutItem], header: RecordHeader): DataFrame = {
    // An entity-struct VALUE (flat convention: _id, markers, props —
    // e.g. the collect(n) round-trip) renders in the same nested shape
    // as a direct entity var: (_id, _labels/_src/_tgt/_type,
    // _properties{...}); lists of them render element-wise.
    def isEntitySt(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case st: StructType => ExprCompiler.isEntityStructType(st)
      case _ => false
    }
    def nest(c: Column, st: StructType): Column = {
      val markers = st.fieldNames.filter(_.startsWith("_")).toSeq
      val props = st.fieldNames.filterNot(_.startsWith("_")).toSeq
      val fields = markers.map(m => c.getField(m).as(m)) ++
        (if (props.nonEmpty)
          Seq(struct(props.map(k => c.getField(k).as(k)): _*).as("_properties"))
        else Seq.empty)
      when(c.isNull, lit(null)).otherwise(struct(fields: _*))
    }
    def renderVal(c: Column, t: org.apache.spark.sql.types.DataType): Column =
      t match {
        case st: StructType if isEntitySt(st) => nest(c, st)
        case ArrayType(et: StructType, _) if isEntitySt(et) =>
          transform(c, x => nest(x, et))
        case _ => c
      }
    val cols = outs.map {
      case OutCol(internal, display) =>
        renderVal(col(internal), df.schema(internal).dataType).as(display)
      case OutVar(v, display) => header.kindOf(v) match {
        case Some(NodeKind(_)) =>
          val labels = header.ownedBy(v).collect { case s @ LabelSlot(_, l) =>
            when(col(header.col(s)), lit(l))
          }
          val props = header.ownedBy(v).collect { case s @ PropSlot(_, k) =>
            col(header.col(s)).as(k)
          }
          val labelCol =
            if (labels.nonEmpty) Seq(array_compact(array(labels: _*)).as("_labels"))
            else Seq(array().cast(ArrayType(StringType)).as("_labels"))
          val propCols =
            if (props.nonEmpty) Seq(struct(props: _*).as("_properties"))
            else Seq.empty
          // Unmatched OPTIONAL vars render as null, not a struct of nulls.
          val idc = col(header.col(IdSlot(v)))
          when(idc.isNull, lit(null))
            .otherwise(struct((Seq(idc.as("_id")) ++ labelCol ++
              propCols): _*)).as(display)
        case Some(RelKind(_)) =>
          val props = header.ownedBy(v).collect { case s @ PropSlot(_, k) =>
            col(header.col(s)).as(k)
          }
          val ridc = col(header.col(IdSlot(v)))
          when(ridc.isNull, lit(null))
            .otherwise(struct(
              (Seq(ridc.as("_id"),
                storedEndCol(header, v, src = true).as("_src"),
                storedEndCol(header, v, src = false).as("_tgt"),
                col(header.col(TypeSlot(v))).as("_type")) ++
                (if (props.nonEmpty) Seq(struct(props: _*).as("_properties"))
                else Seq.empty)): _*)).as(display)
        case Some(ListRelKind(_)) | Some(ListNodeKind(_)) =>
          col(header.col(PathSlot(v))).as(display)
        case _ =>
          val c = header.col(ValueSlot(v))
          renderVal(col(c), df.schema(c).dataType).as(display)
      }
    }
    df.select(cols: _*)
  }

  // ---------------------------------------------------------- single query

  /** Reading clauses that depend only on the incoming context (no planner
    * state mutated) — the unit of shared-prefix caching across UNION
    * branches. */
  private def planReadingClause(ctx: Ctx, c: Clause): Ctx = c match {
    case m @ Match(false, _, _) => planMatch(ctx, m.pattern, m.where)
    case m @ Match(true, _, _) => planOptionalMatch(ctx, m.pattern, m.where)
    case Unwind(e, alias) => planUnwind(ctx, e, alias)
    case LoadCsv(headers, url, alias, sep) =>
      planLoadCsv(ctx, headers, url, alias, sep)
    case w: With =>
      planProjection(ctx, w.distinct, w.star, w.items, w.orderBy,
        w.skip, w.limit, w.where, stampOrder = true)._1
    case CallProc(name, args, yields, opt) =>
      planCall(ctx, name, args, yields, opt)
    case other =>
      throw new CypherCompileException(s"not a reading clause: $other")
  }

  private def isReadingClause(c: Clause): Boolean = c match {
    case _: Match | _: Unwind | _: With | _: CallProc | _: LoadCsv => true
    case _ => false
  }

  /** Duplicate-subtree caching across UNION branches (the reference's
    * InsertCachingOperators, okapi-relational/.../impl/planning/
    * RelationalOptimizer.scala:42-93, re-expressed for direct DataFrame
    * planning): with clause-by-clause compilation a duplicated subtree IS a
    * duplicated clause prefix, so shared prefixes are detected statically,
    * planned once, and lazily localCheckpoint'd — every branch then scans
    * the materialized blocks instead of re-running the prefix's scans and
    * joins, and the blocks are GC-released with the query (no cache-manager
    * growth, same lifecycle as the var-length hop table). Only prefixes
    * ending in a MATCH are cached: anything cheaper than a scan+join is not
    * worth materializing. */
  private def planSharedPrefixes(branches: Seq[Seq[Clause]])
      : Map[Seq[Clause], Ctx] = {
    if (branches.size < 2) return Map.empty
    val counts = scala.collection.mutable.Map.empty[Seq[Clause], Int]
    branches.foreach { cls =>
      val safeLen = cls.segmentLength(isReadingClause, 0)
      (1 to safeLen).foreach { k =>
        if (cls(k - 1).isInstanceOf[Match]) {
          val p = cls.take(k)
          counts(p) = counts.getOrElse(p, 0) + 1
        }
      }
    }
    // Longest shared prefix per branch; shorter shared prefixes seed longer
    // ones so nothing is planned twice.
    val chosen = branches.flatMap { cls =>
      val safeLen = cls.segmentLength(isReadingClause, 0)
      (safeLen to 1 by -1)
        .find(k => cls(k - 1).isInstanceOf[Match] && counts(cls.take(k)) >= 2)
        .map(k => cls.take(k))
    }.distinct.sortBy(_.length)
    val memo = scala.collection.mutable.Map.empty[Seq[Clause], Ctx]
    chosen.foreach { prefix =>
      val seedLen = (prefix.length - 1 to 1 by -1)
        .find(k => memo.contains(prefix.take(k))).getOrElse(0)
      var ctx = if (seedLen == 0) startCtx else memo(prefix.take(seedLen))
      prefix.drop(seedLen).foreach(c => ctx = planReadingClause(ctx, c))
      memo(prefix) = ctx.copy(df = Pin(ctx.df))
    }
    memo.toMap
  }

  private def planSingle(sq: SingleQuery,
      shared: Map[Seq[Clause], Ctx] = Map.empty): (Ctx, Seq[OutItem]) = {
    val prefixLen = (sq.clauses.length to 1 by -1)
      .find(k => shared.contains(sq.clauses.take(k))).getOrElse(0)
    var ctx = if (prefixLen == 0) startCtx else shared(sq.clauses.take(prefixLen))
    var outs: Seq[OutItem] = Seq.empty
    val rem = sq.clauses.drop(prefixLen)
    rem.zipWithIndex.foreach {
      case (r: Return, _) =>
        val (c, o) = planProjection(ctx, r.distinct, r.star, r.items,
          r.orderBy, r.skip, r.limit, None)
        ctx = c
        outs = o
      case (Finish, _) =>
        // FINISH (Neo4j 5.19): effects (writes) are already planned and
        // pinned by the clauses before it; the result is zero rows (and,
        // with no Return outs, zero columns).
        ctx = Ctx(ctx.df.limit(0), ctx.header)
      case (FromGraph(ref), _) =>
        requireNoWrites("FROM GRAPH"); graph = resolveGraph(ref)
      case (ReturnGraph, _) =>
        // The working graph — after FROM GRAPH switches and writes (the
        // ambient graph is already the written state at this point).
        constructedGraph = Some(graph)
        ctx = Ctx(ctx.df.limit(0), ctx.header)
      case (Construct(on, news, sets, clones), _) =>
        requireNoWrites("CONSTRUCT")
        constructedGraph = Some(planConstruct(ctx, on, news, sets, clones))
      case (w: Clause, _) if w.isInstanceOf[Create] || w.isInstanceOf[SetClause] ||
          w.isInstanceOf[Remove] || w.isInstanceOf[Delete] ||
          w.isInstanceOf[Merge] || w.isInstanceOf[Foreach] =>
        ctx = planWriteClause(ctx, w)
        // The ambient graph becomes the written state, so everything after
        // the clause boundary — element-binding in RETURN and (per
        // openCypher visibility: each clause sees ALL preceding writes)
        // subsequent MATCH / OPTIONAL MATCH scans — reads the post-write
        // tables. The write frames are pinned, so re-scanning them from a
        // later MATCH cannot re-evaluate the fresh-id generator.
        graph = buildWrittenGraph()
      case (cs: CallSubquery, _) =>
        // After writes the ambient graph IS the written state, so the
        // (read-only) body scans post-write tables like MATCH does.
        // A unit body (no RETURN, performs updates — the CALL { } IN
        // TRANSACTIONS shape) writes per driving row instead; the graph
        // becomes the written state inside planUnitWriteCall.
        if (isUnitWriteSub(cs.inner)) {
          if (cs.optional) throw new CypherCompileException(
            "OPTIONAL CALL { } with a unit (updating) body is not supported",
            CE.SemanticError, CE.UnsupportedExpression)
          ctx = planUnitWriteCall(ctx, cs.inner.first)
        } else {
          ctx = planCallSubquery(ctx, cs.inner, cs.optional)
          // A RETURNing body with writes: the ambient graph becomes the
          // written state, like any top-level write clause.
          val arms = cs.inner.first +: cs.inner.rest.map(_._2)
          if (arms.exists(a => containsWriteClause(a.clauses)))
            graph = buildWrittenGraph()
        }
      case (m: Match, i) =>
        deadVars = deadEndpointVars(m, rem.drop(i + 1))
        try ctx = planReadingClause(ctx, m) finally deadVars = Set.empty
      case (reading, _) =>
        // Clauses that read the (written) ambient graph or only reshape
        // the driving table are legal after writes; FROM GRAPH/CONSTRUCT
        // are not (they would switch away from the written state).
        reading match {
          case _: With | _: Unwind | _: CallProc => ()
          case other => requireNoWrites(other.getClass.getSimpleName)
        }
        ctx = planReadingClause(ctx, reading)
    }
    (ctx, outs)
  }

  // ------------------------------------------------------------------ call
  /** CALL proc(args) [YIELD cols]: the procedure's DataFrame columns become
    * value variables (cross-joined if rows already exist). */
  private def planCall(ctx: Ctx, name: String, args: Seq[Expr],
      yields: Seq[String], optional: Boolean = false): Ctx = {
    val proc = procedures.getOrElse(name,
      throw new CypherCompileException(s"unknown procedure $name"))
    def evalLit(e: Expr): Any = e match {
      case IntLit(v) => v
      case FloatLit(v) => v
      case StrLit(v) => v
      case BoolLit(v) => v
      case NullLit => null
      case Param(n) => params(n)
      case other =>
        throw new CypherCompileException(s"CALL argument must be a literal: $other")
    }
    var df = proc(graph, args.map(evalLit))
    // OPTIONAL CALL (Neo4j 5.21): an empty procedure result contributes
    // one all-null row instead of annihilating the driving rows.
    if (optional && df.isEmpty)
      df = df.sparkSession.range(1).select(df.schema.fields.map(f =>
        org.apache.spark.sql.functions.lit(null).cast(f.dataType)
          .as(f.name)): _*)
    val cols = if (yields.nonEmpty) yields else df.columns.toSeq
    df = df.select(cols.map(col): _*)
    var header = RecordHeader.empty
    cols.foreach { c =>
      val slot = ValueSlot(c)
      header = header.withSlot(slot).withVar(c, ValueKind)
      df = df.withColumnRenamed(c, RecordHeader.colName(slot))
    }
    if (ctx.isUnit) Ctx(df, header)
    else Ctx(ctx.df.crossJoin(df), ctx.header ++ header)
  }

  // ------------------------------------------------------------- construct
  /** CONSTRUCT NEW ...: build a new PropertyGraph from the current driving
    * table (ConstructGraphPlanner, SURVEY §2.6). Bound node vars are cloned
    * (keeping their ids and statically-known labels); unbound vars create
    * one element per row with fresh tagged ids. The construct table is
    * persisted before slicing into scans so monotonically_increasing_id is
    * evaluated exactly once (the determinism hazard SURVEY §4 flags). */
  private def planConstruct(ctx0: Ctx, on: Seq[GraphRef], news: Seq[PatternPart],
      sets: Seq[SetItem], clones: Seq[(String, String)] = Seq.empty)
      : PropertyGraph = {
    rejectLabelExprs(news, "CONSTRUCT")
    // CLONE src AS alias: the alias shares the source's physical columns,
    // so downstream it looks like a bound (clone-able) var.
    var ctx = ctx0
    clones.foreach { case (src, alias) =>
      if (alias != src) {
        require(ctx.header.kinds.contains(src), s"CLONE of unbound var $src")
        val aliased = ctx.header.ownedBy(src).map { sl =>
          val ns: Slot = sl match {
            case IdSlot(_) => IdSlot(alias)
            case LabelSlot(_, l) => LabelSlot(alias, l)
            case PropSlot(_, k) => PropSlot(alias, k)
            case SrcSlot(_) => SrcSlot(alias)
            case TgtSlot(_) => TgtSlot(alias)
            case TypeSlot(_) => TypeSlot(alias)
            case ValueSlot(_) => ValueSlot(alias)
            case PathSlot(_) => PathSlot(alias)
            case PathNodesSlot(_) => PathNodesSlot(alias)
          }
          ns -> ctx.header.col(sl)
        }
        ctx = Ctx(ctx.df, RecordHeader(ctx.header.slots ++ aliased,
          ctx.header.kinds + (alias -> ctx.header.kinds(src))))
      }
    }
    val (nodes0, edges0) = normalizePattern(Pattern(news))
    // SET items fold into the pattern constraints: properties append to the
    // var's NEW property list, labels extend its label set.
    var nodes = nodes0
    var edges = edges0
    // Clone targets not mentioned in a NEW pattern still land in the graph.
    clones.foreach { case (_, alias) =>
      if (!nodes.contains(alias))
        nodes = nodes + (alias -> NodeCons(alias, Seq.empty, Seq.empty))
    }
    sets.map(resolveSetItem).foreach {
      case SetProp(v, k, e) if nodes.contains(v) =>
        nodes = nodes.updated(v, nodes(v).copy(props = nodes(v).props :+ (k, e)))
      case SetProp(v, k, e) if edges.exists(_.v == v) =>
        edges = edges.map(ed =>
          if (ed.v == v) ed.copy(props = ed.props :+ (k, e)) else ed)
      case SetLabel(v, ls) if nodes.contains(v) =>
        nodes = nodes.updated(v,
          nodes(v).copy(labels = (nodes(v).labels ++ ls).distinct))
      case other =>
        throw new CypherCompileException(s"SET target not in CONSTRUCT: $other")
    }
    edges.foreach { e =>
      require(e.varLength.isEmpty && e.dir == OUT,
        "CONSTRUCT supports plain directed relationships")
    }
    val baseGraphs = on.map(resolveGraph)
    var df = ctx.df
    val compiler = () => new ExprCompiler(ctx.header, df.schema, params, Map.empty, extensions)
    // Fresh ids come from the write-id generator, so a CONSTRUCT over a
    // graph holding an earlier CONSTRUCT's elements cannot re-mint them.
    val nodeIdCols: Map[String, String] =
      nodes.keys.toSeq.zipWithIndex.map { case (v, idx) =>
        if (ctx.header.contains(IdSlot(v))) v -> ctx.header.col(IdSlot(v))
        else {
          val cname = s"_ct_id_$idx"
          df = df.withColumn(cname, freshWriteId(writeGen, nextWriteVarIdx()))
          v -> cname
        }
      }.toMap
    // Evaluate NEW-pattern property expressions.
    val nodePropCols: Map[String, Seq[(String, String)]] = nodes.map {
      case (v, nc) =>
        v -> nc.props.zipWithIndex.map { case ((k, e), i) =>
          val cname = s"_ct_np_${v}_$i"
          df = df.withColumn(cname, compiler().compile(e))
          k -> cname
        }
    }
    val relIdCols: Seq[String] = edges.zipWithIndex.map { case (e, idx) =>
      val cname = s"_ct_rid_$idx"
      df = df.withColumn(cname, freshWriteId(writeGen, nextWriteVarIdx()))
      cname
    }
    val relPropCols: Seq[Seq[(String, String)]] = edges.zipWithIndex.map {
      case (e, idx) =>
        e.props.zipWithIndex.map { case ((k, ex), i) =>
          val cname = s"_ct_rp_${idx}_$i"
          df = df.withColumn(cname, compiler().compile(ex))
          k -> cname
        }
    }
    // The node/rel tables of the constructed graph all derive from this
    // frame, so it must materialize once (Pin chooses lazy localCheckpoint
    // locally, persist on a cluster).
    val mat = Pin(df)

    val nodeDefs = nodes.toSeq.flatMap { case (v, nc) =>
      val cloned = ctx.header.contains(IdSlot(v))
      // With ON including the ambient graph, cloned elements are already
      // present in that base — emitting a clone table would duplicate them.
      // ON over *other* graphs must still emit the clones.
      if (cloned && baseGraphs.exists(_ eq graph)) Seq.empty
      else {
      // COPY OF: a fresh element that inherits the source's labels and
      // properties (MultipleGraphTests "creates multiple copies").
      val copySrc = nc.copyOf.filter(sv => ctx.header.contains(IdSlot(sv)))
      val propOwner: Option[String] = if (cloned) Some(v) else copySrc
      val clonedProps: Seq[(String, String)] =
        propOwner.map(o => ctx.header.ownedBy(o).collect {
          case s @ PropSlot(_, k) => k -> ctx.header.col(s)
        }.toSeq).getOrElse(Seq.empty)
      val props = (clonedProps ++ nodePropCols(v)).toMap
      val idCol = nodeIdCols(v)
      def defFor(labels: Set[String], rows: DataFrame): NodeTableDef = {
        val table = rows
          .select((col(idCol).as("_cid") +: props.toSeq.map { case (k, c) =>
            col(c).as("_cp_" + k)
          }): _*)
          .dropDuplicates("_cid")
        NodeTableDef(labels, table, "_cid",
          props.keys.map(k => k -> ("_cp_" + k)).toMap, "!construct")
      }
      val labelSlots = propOwner.map(o => ctx.header.ownedBy(o).collect {
        case s @ LabelSlot(_, l) => l -> ctx.header.col(s)
      }.toSeq.sortBy(_._1)).getOrElse(Seq.empty)
      if (propOwner.isDefined && labelSlots.nonEmpty) {
        // Cloned var with per-row label flags: the rows may mix label
        // combinations ("MATCH (a) CONSTRUCT CLONE a"), so emit one table
        // per distinct combination actually present, extended by any static
        // labels from the CONSTRUCT pattern / SET — the reference's
        // extractScanGraph grouping (ConstructGraphPlanner.scala:291-450).
        // The combo count is bounded by the source schema, so the driver-side
        // distinct stays tiny even at 100 TB.
        val combos = mat
          .select(labelSlots.map { case (_, c) => (col(c) <=> lit(true)).as(c) }: _*)
          .distinct().collect()
        combos.toSeq.map { row =>
          val present = labelSlots.zipWithIndex
            .filter { case (_, i) => row.getBoolean(i) }.map(_._1._1)
          val cond = labelSlots.zipWithIndex.map { case ((_, c), i) =>
            col(c) <=> lit(row.getBoolean(i))
          }.reduce(_ && _)
          defFor(present.toSet ++ nc.labels, mat.filter(cond))
        }
      } else {
        val labels: Set[String] =
          if (nc.labels.nonEmpty) nc.labels.toSet
          else ctx.header.kindOf(v) match {
            case Some(NodeKind(ls)) => ls
            case _ => Set.empty
          }
        Seq(defFor(labels, mat))
      }
      }
    }
    val relDefs = edges.zipWithIndex.map { case (e, idx) =>
      val relType = e.types.headOption.getOrElse("REL")
      val props = relPropCols(idx).toMap
      val table = mat.select((Seq(
        col(relIdCols(idx)).as("_cid"),
        col(nodeIdCols(e.src)).as("_csrc"),
        col(nodeIdCols(e.tgt)).as("_ctgt")) ++
        props.toSeq.map { case (k, c) => col(c).as("_cp_" + k) }): _*)
      RelTableDef(relType, table, "_cid", "_csrc", "_ctgt",
        props.keys.map(k => k -> ("_cp_" + k)).toMap,
        "!construct", "!construct", "!construct")
    }
    // CONSTRUCT ON: merge the base graphs' element tables ahead of the
    // constructed scans. The ambient graph (if among the bases) keeps its
    // raw defs FIRST, preserving its id-space order so cloned ids (baked
    // literals under the source tag assignment) keep matching. Foreign
    // base graphs are folded in as pre-tagged scans with their tag bytes
    // shifted into a reserved region (64 + 32·i) so they can never collide
    // with ambient-tagged clone ids (region 0..63) or fresh construct ids
    // (region 200+).
    if (baseGraphs.isEmpty) PropertyGraph(nodeDefs, relDefs)
    else {
      val (own, foreign) = baseGraphs.partition(_ eq graph)
      def shiftIds(df: DataFrame, cols: Seq[String], off: Long): DataFrame =
        cols.foldLeft(df)((d, c) =>
          d.withColumn(c, col(c) + lit(off << PropertyGraph.TagBits)))
      val foreignNodes = foreign.zipWithIndex.flatMap { case (g, i) =>
        val off = 64L + i * 32L
        g.nodeTables.map { t =>
          NodeTableDef(t.labels, shiftIds(t.df, Seq(ID), off), ID,
            t.propTypes.keys.map(k => k -> propCol(k)).toMap, s"!on$i")
        }
      }
      val foreignRels = foreign.zipWithIndex.flatMap { case (g, i) =>
        val off = 64L + i * 32L
        g.relTables.map { t =>
          RelTableDef(t.relType, shiftIds(t.df, Seq(ID, SRC, TGT), off),
            ID, SRC, TGT, t.propTypes.keys.map(k => k -> propCol(k)).toMap,
            s"!on$i", s"!on$i", s"!on$i")
        }
      }
      new PropertyGraph(
        own.flatMap(_.nodeDefs) ++ foreignNodes ++ nodeDefs,
        own.flatMap(_.relDefs) ++ foreignRels ++ relDefs)
    }
  }

  // -------------------------------------------------------------- patterns
  private case class NodeCons(v: String, labels: Seq[String],
      props: Seq[(String, Expr)], copyOf: Option[String] = None,
      labelExpr: Option[LabelExpr] = None)
  private case class EdgeCons(v: String, src: String, tgt: String,
      types: Seq[String], props: Seq[(String, Expr)], dir: Direction,
      varLength: Option[(Int, Option[Int])],
      qpp: Option[QppSpec] = None,
      dynType: Option[(Boolean, Expr)] = None)

  /** Path binding: (pathVar, headNodeVar, hops of (edge, isVarLength, node)). */
  private case class PathBind(v: String, head: String,
      hops: Seq[(String, Boolean, String)])

  private var pathBinds: Seq[PathBind] = Seq.empty

  /** Path selector (shortestPath/allShortestPaths or a Cypher-5 keyword
    * selector) over one var-length segment:
    * (selector, head node var, target node var, edge var). */
  /** A keyword path selector over one pattern part: `hops` lists every
    * relationship variable left-to-right with its var-length-ness. Path
    * length is the hop count (fixed hops contribute 1, var-length hops the
    * size of their rel-id array); the tie-break key is the concatenated
    * rel-id sequence. A single var-length hop is the BFS-prunable special
    * case; everything else enumerates and lets the selection window prune
    * (Neo4j plans general SHORTEST the same exhaustive way). */
  private case class ShortestSpec(sel: PathSelector, head: String, tgt: String,
      hops: Seq[(String, Boolean)]) {
    def key: String = hops.map(_._1).mkString(",")
  }
  private var shortestSpecs: Seq[ShortestSpec] = Seq.empty

  /** Shortest specs whose WHERE reads the path (via the edge-list var or a
    * bound path variable spanning it): edge var -> spanning path vars.
    * These disable the BFS first-arrival prune (every bounded path is a
    * candidate) and select AFTER the filter — Neo4j's "shortest satisfying
    * path" semantics instead of filter-the-chosen-path. */
  private var deferredShortest: Map[String, Set[String]] = Map.empty

  /** Constant-fold a dynamic label/type term whose expression is already
    * known at plan time (string/list literal, or a parameter — the main
    * use of `:$()` is parameterized ingestion). Folding restores the full
    * compile-time closed-world scan pruning a LabelDynamic otherwise
    * disables; non-foldable expressions (outer-variable references, null
    * or empty-list values) keep the runtime-filter path. */
  private def planTimeStrings(e: Expr): Option[Seq[String]] = e match {
    case StrLit(s) => Some(Seq(s))
    case ListLit(items) if items.nonEmpty =>
      val ss = items.collect { case StrLit(s) => s }
      if (ss.size == items.size) Some(ss) else None
    case Param(p) => params.get(p) match {
      case Some(s: String) => Some(Seq(s))
      case Some(xs: Seq[_]) if xs.nonEmpty && xs.forall(_.isInstanceOf[String]) =>
        Some(xs.map(_.toString))
      case _ => None
    }
    case _ => None
  }
  private def foldDynLabels(le: LabelExpr): LabelExpr = le match {
    case LabelDynamic(e) => planTimeStrings(e) match {
      case Some(ss) => ss.map(LabelAtom(_): LabelExpr).reduce(LabelAnd(_, _))
      case None => le
    }
    case LabelAnd(a, b) => LabelAnd(foldDynLabels(a), foldDynLabels(b))
    case LabelOr(a, b) => LabelOr(foldDynLabels(a), foldDynLabels(b))
    case LabelNot(e) => LabelNot(foldDynLabels(e))
    case other => other
  }

  private def normalizePattern(pattern: Pattern): (Map[String, NodeCons], Seq[EdgeCons]) = {
    val nodes = mutable.LinkedHashMap.empty[String, NodeCons]
    val edges = mutable.ArrayBuffer.empty[EdgeCons]
    val binds = Seq.newBuilder[PathBind]
    def addNode(np: NodePattern): String = {
      val v = np.variable.getOrElse(freshVar())
      val prev = nodes.getOrElse(v, NodeCons(v, Seq.empty, Seq.empty))
      // Fold plan-time-known dynamic terms, then move a pure conjunction
      // of atoms back onto the labels fast path (exact table pruning).
      def conjAtoms(e: LabelExpr): Option[Seq[String]] = e match {
        case LabelAtom(n) => Some(Seq(n))
        case LabelAnd(a, b) =>
          for (x <- conjAtoms(a); y <- conjAtoms(b)) yield x ++ y
        case _ => None
      }
      val (npLabels, npLe) = np.labelExpr.map(foldDynLabels) match {
        case Some(t) => conjAtoms(t) match {
          case Some(atoms) => (np.labels ++ atoms, None)
          case None => (np.labels, Some(t))
        }
        case None => (np.labels, None)
      }
      val le = (prev.labelExpr.toSeq ++ npLe.toSeq)
        .reduceOption(LabelAnd(_, _))
      nodes(v) = NodeCons(v, (prev.labels ++ npLabels).distinct,
        prev.props ++ np.props, prev.copyOf.orElse(np.copyOf), le)
      v
    }
    pattern.parts.foreach { part =>
      val head = addNode(part.head)
      var cur = head
      val hops = Seq.newBuilder[(String, Boolean, String)]
      part.tail.foreach { case (rp, np) =>
        val nxt = addNode(np)
        val ev = rp.variable.getOrElse(freshVar())
        // [:!T...]: closed-world complement — the schema knows every type.
        // An EMPTY complement means "no type", which must NOT fall through
        // to the empty-list "any type" convention — substitute the
        // unmatchable sentinel so the scan yields zero rows.
        // Fold a plan-time-known dynamic type to the static (types,
        // negated) pair — a list is a UNION for rel types (a rel carries
        // exactly one type) — so the typed scan pruning applies.
        val (fTypes, fNeg, fDyn) = rp.dynType match {
          case Some((neg, e)) => planTimeStrings(e) match {
            case Some(ss) => (ss, neg, None)
            case None => (rp.types, rp.typesNegated, rp.dynType)
          }
          case None => (rp.types, rp.typesNegated, None)
        }
        val effTypes =
          if (fNeg) {
            val c = (graph.relTypes -- fTypes).toSeq.sorted
            if (c.isEmpty) Seq(graft.ast.RelPattern.NoneType) else c
          } else fTypes
        edges += EdgeCons(ev, cur, nxt,
          effTypes, rp.props, rp.direction, rp.varLength, rp.qpp,
          fDyn)
        hops += ((ev, rp.varLength.isDefined, nxt))
        cur = nxt
      }
      part.pathVar.foreach(pv => binds += PathBind(pv, head, hops.result()))
      part.shortest.foreach { sel =>
        val hs = hops.result()
        if (hs.isEmpty) throw new CypherCompileException(
          "path selectors require at least one relationship pattern")
        shortestSpecs :+= ShortestSpec(sel, head, hs.last._3,
          hs.map(h => (h._1, h._2)))
      }
    }
    pathBinds = pathBinds ++ binds.result()
    (nodes.toMap, edges.toSeq)
  }

  /** Bind path variables as (nodes, rels) structs. Var-length segments
    * contribute their tracked visited-node arrays (PathNodesSlot, populated
    * by planVarExpand whenever a path variable spans the hop). */
  private def bindPaths(ctx0: Ctx): Ctx = {
    var ctx = ctx0
    val (ready, pending) = pathBinds.partition(b =>
      ctx.header.contains(IdSlot(b.head)))
    pathBinds = pending
    ready.foreach { b =>
      val h = ctx.header
      val relCols = b.hops.map {
        case (e, true, _) => col(h.col(PathSlot(e)))
        case (e, false, _) => array(col(h.col(IdSlot(e))))
      }
      val rels =
        if (relCols.isEmpty) array().cast(ArrayType(LongType))
        else concat(relCols: _*)
      // Node sequence: the head node, then each hop's nodes after its start
      // (a var-length hop's tracked array includes both endpoints, so drop
      // its first element — it is the previous hop's end).
      val nodeCols = array(col(h.col(IdSlot(b.head)))) +: b.hops.map {
        case (e, true, _) =>
          val pn = col(h.col(PathNodesSlot(e)))
          F.slice(pn, lit(2), greatest(F.size(pn) - 1, lit(0)))
        case (_, false, nxt) => array(col(h.col(IdSlot(nxt))))
      }
      val nodes = concat(nodeCols: _*)
      val slot = ValueSlot(b.v)
      ctx = Ctx(
        ctx.df.withColumn(RecordHeader.colName(slot),
          struct(nodes.as("nodes"), rels.as("rels"))),
        ctx.header.withSlot(slot).withVar(b.v, ValueKind))
    }
    ctx
  }

  /** All variable names syntactically present in an expression (generic
    * product walk; lambda-bound names are included, which only makes the
    * pushdown below more conservative). */
  private def exprVars(e: Any): Set[String] = e match {
    case Var(n) => Set(n)
    case s: Seq[_] => s.flatMap(exprVars).toSet
    case o: Option[_] => o.toSeq.flatMap(exprVars).toSet
    case p: Product => p.productIterator.flatMap(exprVars).toSet
    case _ => Set.empty
  }

  /** True when the conjunct contains a pattern predicate or pattern
    * comprehension — either needs subplan machinery (semi/anti join or
    * materializePatternComps), so neither may be pushed onto a node scan
    * where ExprCompiler would reject it. */
  private def containsPatternExpr(e: Any): Boolean = e match {
    case _: PatternPredicate | _: PatternComp | _: QuerySub => true
    case FuncCall(n, args, _) if n.equalsIgnoreCase("exists") =>
      args.exists(containsPatternExpr)
    case s: Seq[_] => s.exists(containsPatternExpr)
    case o: Option[_] => o.exists(containsPatternExpr)
    case p: Product => p.productIterator.exists(containsPatternExpr)
    case _ => false
  }

  private def planMatch(ctx0: Ctx, pattern: Pattern, where: Option[Expr]): Ctx = {
    val (nodes, edges) = normalizePattern(pattern)
    var ctx = ctx0
    val bound = mutable.Set.empty[String]
    ctx0.header.kinds.foreach { case (v, _) => bound += v }

    // Push single-variable WHERE conjuncts onto their node scan BEFORE the
    // pattern is planned: a MATCH...WHERE filter on one pattern node is a
    // pure row filter, so applying it at the scan is semantics-preserving —
    // and it is what keeps a var-length expand's anchor seed proportional
    // to the FILTERED node set (the expand materializes its frontier, so
    // Catalyst cannot push the late filter back through it).
    def conjunctsOf(e: Expr): Seq[Expr] = e match {
      case Ands(es) => es.flatMap(conjunctsOf)
      case other => Seq(other)
    }
    var residualWhere = where
    where.foreach { w =>
      val cs = conjunctsOf(w)
      val (push, keep) = cs.partition { c =>
        !containsPatternExpr(c) && !ExprCompiler.containsAggregate(c) && {
          val vs = exprVars(c)
          vs.size == 1 && nodes.contains(vs.head) && !bound(vs.head)
        }
      }
      if (push.nonEmpty) {
        push.groupBy(c => exprVars(c).head).foreach { case (v, preds) =>
          ctx = planNodeScanInto(ctx, nodes(v))
          bound += v
          preds.foreach(p =>
            ctx = ctx.copy(df = ctx.df.filter(ctx.compiler.compile(p))))
        }
        residualWhere =
          if (keep.isEmpty) None
          else Some(keep.reduceLeft((a, b) => Ands(Seq(a, b))))
      }
    }

    // A WHERE reading a shortest spec's path (its edge-list var, or a path
    // variable spanning it) defers that spec's selection to after the
    // filter (see deferredShortest). Decided BEFORE the edges are planned
    // so the var-length expand also skips its first-arrival prune.
    residualWhere.foreach { w =>
      val vs = exprVars(w)
      val thisMatch = edges.map(_.v).toSet
      shortestSpecs.filter(s =>
          s.hops.exists(h => thisMatch.contains(h._1))).foreach { s =>
        val hopVars = s.hops.map(_._1).toSet
        val spanning = pathBinds
          .filter(_.hops.exists(h => hopVars.contains(h._1))).map(_.v).toSet
        if (hopVars.exists(vs.contains) || spanning.exists(vs.contains))
          deferredShortest += s.key -> spanning
      }
    }

    // Apply label/prop constraints to an already-bound node var as filters.
    def constrainBound(c: Ctx, nc: NodeCons): Ctx = {
      var cur = c
      if (nc.labels.nonEmpty)
        cur = cur.copy(df = cur.df.filter(
          cur.compiler.compile(HasLabels(Var(nc.v), nc.labels))))
      nc.labelExpr.foreach { le =>
        cur = cur.copy(df = cur.df.filter(
          cur.compiler.compile(labelExprPredicate(nc.v, le))))
      }
      nc.props.foreach { case (k, e) =>
        cur = cur.copy(df = cur.df.filter(
          cur.compiler.compile(Cmp("=", Prop(Var(nc.v), k), e))))
      }
      cur
    }

    // Process edges greedily, preferring ones with a bound endpoint.
    val remaining = mutable.ArrayBuffer(edges: _*)
    while (remaining.nonEmpty) {
      val idx = remaining.indexWhere(e => bound(e.src) || bound(e.tgt))
      val e = if (idx >= 0) remaining.remove(idx) else remaining.remove(0)
      ctx = planEdge(ctx, e, nodes, bound)
    }
    // Standalone / leftover nodes; also re-apply label/property constraints
    // to vars that entered this MATCH already bound from an earlier clause —
    // planEdge joins such endpoints by id only, so "WITH a MATCH (a:Person)
    // -->(b)" must still filter a on :Person (the reference filters on bound
    // nodes in planExpansions regardless of edge participation).
    nodes.values.foreach { nc =>
      if (!bound(nc.v)) {
        ctx = planNodeScanInto(ctx, nc)
        bound += nc.v
      } else if (ctx0.header.kinds.contains(nc.v) &&
          (nc.labels.nonEmpty || nc.props.nonEmpty || nc.labelExpr.nonEmpty)) {
        ctx = constrainBound(ctx, nc)
      }
    }

    // Relationship-uniqueness (Cypher edge-isomorphism) within this MATCH:
    // mirror VarLengthExpandPlanner.scala:178-180's pairwise Not(Equals).
    val relVars = edges.map(e => (e.v, e.varLength.isDefined, e.types.toSet))
    for {
      i <- relVars.indices
      j <- (i + 1) until relVars.size
      (v1, list1, t1) = relVars(i)
      (v2, list2, t2) = relVars(j)
      if t1.isEmpty || t2.isEmpty || (t1 & t2).nonEmpty
    } {
      val h = ctx.header
      val cond = (list1, list2) match {
        case (false, false) =>
          col(h.col(IdSlot(v1))) =!= col(h.col(IdSlot(v2)))
        case (true, false) =>
          !array_contains(col(h.col(PathSlot(v1))), col(h.col(IdSlot(v2))))
        case (false, true) =>
          !array_contains(col(h.col(PathSlot(v2))), col(h.col(IdSlot(v1))))
        case (true, true) =>
          !arrays_overlap(col(h.col(PathSlot(v1))), col(h.col(PathSlot(v2))))
      }
      ctx = ctx.copy(df = ctx.df.filter(cond))
    }

    // shortestPath/allShortestPaths: keep minimal-length rows per endpoint
    // pair. One window shuffle keyed on the pair — the var-length expand
    // already enumerated the bounded path set; the window prunes it.
    // Specs whose WHERE reads the path (deferredShortest) select AFTER the
    // filter instead: Neo4j semantics are "the shortest SATISFYING path",
    // so the selection window must see only satisfying rows.
    var deferredReady: Seq[ShortestSpec] = Seq.empty
    if (shortestSpecs.nonEmpty) {
      val (ready, pending) = shortestSpecs.partition(s =>
        s.hops.forall { case (v, varLen) =>
          if (varLen) ctx.header.contains(PathSlot(v))
          else ctx.header.contains(IdSlot(v))
        })
      shortestSpecs = pending
      val (defer, now) = ready.partition(s => deferredShortest.contains(s.key))
      deferredReady = defer
      now.foreach { s =>
        ctx = applyShortestSelection(ctx, s,
          Seq(col(ctx.header.col(IdSlot(s.head))),
            col(ctx.header.col(IdSlot(s.tgt)))))
      }
    }

    // Pre-WHERE column set: the deferred selection partitions only by
    // these (minus the spec's own path columns) — anything applyWhere adds
    // (pattern-predicate markers, lambda label-lookup helpers) derives
    // from the path and would splinter the partitions.
    val preWhereCols = ctx.df.columns.toSet

    ctx = bindPaths(ctx)

    // WHERE: pattern predicates become semi/anti joins, the rest a filter.
    residualWhere.foreach { w => ctx = applyWhere(ctx, w) }

    // Deferred selection: partition by EVERY pre-WHERE column not derived
    // from the spec's path (the endpoint pair, other pattern bindings,
    // outer rows) — a WHERE that varies with the outer binding must not
    // let one binding's minimum evict another's.
    deferredReady.foreach { s =>
      val pathVars = deferredShortest.getOrElse(s.key, Set.empty)
      deferredShortest -= s.key
      val h = ctx.header
      val hopVars = s.hops.map(_._1).toSet
      val excluded = h.slots.collect {
        case (slot, c) if hopVars.contains(slot.owner) => c
        case (ValueSlot(v), c) if pathVars.contains(v) => c
      }.toSet
      val partCols = ctx.df.columns.toSeq
        .filter(c => preWhereCols.contains(c) && !excluded.contains(c))
        .map(col)
      ctx = applyShortestSelection(ctx, s, partCols)
    }
    normalizeRelOrientation(ctx)
  }

  /** Collapse traversal orientation once a MATCH finishes: rel vars bound
    * through an undirected scan carry (swapped src/tgt, RevSlot); pattern
    * planning is the only consumer of traversal order, so rewrite src/tgt
    * to storage order and DROP the marker. Downstream then sees one
    * canonical binding per orientation row — Neo4j's relationship
    * identity: `WITH DISTINCT r` collapses the two orientation rows and
    * `RETURN r, count(*)` groups them, while bare `MATCH ()-[r]-()` keeps
    * its two-row multiplicity (values equal, rows distinct). */
  private def normalizeRelOrientation(ctx0: Ctx): Ctx = {
    val revs = ctx0.header.slots.keys.collect { case s: RevSlot => s }.toSeq
      .distinctBy(ctx0.header.col(_))
    if (revs.isEmpty) return ctx0
    var df = ctx0.df
    revs.foreach { rs =>
      val v = rs.owner
      val sC = ctx0.header.col(SrcSlot(v))
      val tC = ctx0.header.col(TgtSlot(v))
      val rC = ctx0.header.col(rs)
      val rev = coalesce(col(rC), lit(false))
      df = df.withColumns(Map(
          sC -> when(rev, col(tC)).otherwise(col(sC)),
          tC -> when(rev, col(sC)).otherwise(col(tC))))
        .drop(rC)
    }
    Ctx(df, ctx0.header.withoutSlots(
      ctx0.header.slots.keys.collect { case s: RevSlot => s }.toSeq))
  }

  /** One path-selector window over `partCols`: keeps the per-partition
    * minimal paths (or k-groups/k-paths) of spec `s`. Equality-against-min
    * (not row_number) for the single-path modes so outer-row multiplicity
    * survives: "UNWIND [1,2] AS i MATCH shortestPath(...)" keeps the
    * chosen path once per outer row instead of collapsing to one row. */
  private def applyShortestSelection(ctx0: Ctx, s: ShortestSpec,
      partCols: Seq[Column]): Ctx = {
    var ctx = ctx0
    val h = ctx.header
    // Total path length and the left-to-right rel-id sequence across every
    // hop: fixed hops contribute (1, [id]), var-length hops
    // (size(ids), ids). A single-hop spec reduces to the old shapes.
    val len = s.hops.map {
      case (v, true) => F.size(col(h.col(PathSlot(v)))).cast(LongType)
      case (_, false) => lit(1L)
    }.reduce(_ + _)
    val pathKey = {
      val parts = s.hops.map {
        case (v, true) => col(h.col(PathSlot(v)))
        case (v, false) => array(col(h.col(IdSlot(v))))
      }
      if (parts.size == 1) parts.head else concat(parts: _*)
    }
    val w = org.apache.spark.sql.expressions.Window.partitionBy(partCols: _*)
    s.sel.mode match {
      case "allshortest" =>
        ctx = ctx.copy(df = ctx.df
          .withColumn("_sp_min", min(len).over(w))
          .filter(len === col("_sp_min")).drop("_sp_min"))
      case "shortest" =>
        // One arbitrary-but-deterministic shortest path per pair, chosen
        // by (length, rel-id sequence) order.
        val key = struct(len.as("l"), pathKey.as("p"))
        ctx = ctx.copy(df = ctx.df
          .withColumn("_sp_min", min(key).over(w))
          .filter(key === col("_sp_min")).drop("_sp_min"))
      case "shortestgroups" =>
        // SHORTEST k GROUPS: every path whose length is among the k
        // smallest distinct lengths for its endpoint pair. dense_rank
        // gives ties (same length) the same rank, so whole groups
        // survive and outer-row duplicates stay intact.
        ctx = ctx.copy(df = ctx.df
          .withColumn("_sp_rk", F.dense_rank().over(w.orderBy(len)))
          .filter(col("_sp_rk") <= s.sel.k).drop("_sp_rk"))
      case "shortestk" =>
        // SHORTEST k: the k shortest distinct paths, ties broken by the
        // rel-id sequence. (length, path) is a total order over distinct
        // paths, so dense_rank assigns each distinct path one rank and
        // keeps duplicates from outer-row multiplicity intact.
        ctx = ctx.copy(df = ctx.df
          .withColumn("_sp_rk", F.dense_rank().over(w.orderBy(len, pathKey)))
          .filter(col("_sp_rk") <= s.sel.k).drop("_sp_rk"))
      case other =>
        throw new CypherCompileException(s"unknown path selector: $other")
    }
    ctx
  }

  /** Apply a WHERE expression to a context: top-level pattern predicates
    * become semi/anti joins, disjunctive/nested ones marker columns, the
    * residue a plain filter. Shared by MATCH and WITH (post-aggregation
    * "WITH ... WHERE exists((a)-->(b))" uses the same path). */
  /** startNode()/endNode() used as a node VALUE (property access, labels(),
    * a bare return) binds the endpoint to a fresh node var: the all-labels
    * node scan is left-joined on the rel's endpoint id and the call
    * rewritten to that var. `id(startNode(r))` keeps the no-join fast path
    * (the endpoint id is already a column of the rel scan). Reference
    * resolves these during IR translation (okapi-ir ExpressionConverter);
    * here it is a planner rewrite so the join only appears when needed. */
  private def bindEndpointNodes(ctx0: Ctx, exprs: Seq[Expr])
      : (Ctx, Seq[Expr]) = {
    def endpointOf(e: Expr): Option[(Boolean, String)] = e match {
      case FuncCall(n, Seq(Var(r)), _) =>
        val ln = n.toLowerCase
        if ((ln == "startnode" || ln == "endnode") &&
            ctx0.header.kinds.get(r).exists(_.isInstanceOf[RelKind]))
          Some((ln == "startnode", r))
        else None
      case _ => None
    }
    val targets =
      scala.collection.mutable.LinkedHashMap.empty[(Boolean, String), String]
    def rw(e: Expr): Expr = e match {
      case FuncCall(idn, Seq(inner), _)
          if idn.toLowerCase == "id" && endpointOf(inner).isDefined =>
        e
      case other => endpointOf(other) match {
        case Some(key) => Var(targets.getOrElseUpdate(key, freshVar()))
        case None => ExprOps.mapChildren(other, rw)
      }
    }
    val rewritten = exprs.map(rw)
    var ctx = ctx0
    targets.foreach { case ((isSrc, r), v) =>
      val (df, header, deferred) = nodeScanDf(NodeCons(v, Seq.empty, Seq.empty))
      require(deferred.isEmpty, "all-labels scan has no inline props")
      val endC = storedEndCol(ctx.header, r, src = isSrc)
      val joined = ctx.df.join(df,
        endC === col(header.col(IdSlot(v))), "left_outer")
      ctx = Ctx(joined, ctx.header ++ header)
    }
    (ctx, rewritten)
  }

  private def applyWhere(ctx0: Ctx, w: Expr): Ctx = {
    // openCypher forbids aggregates in a predicate position — filtering on
    // an aggregate goes through `WITH ... AS alias WHERE alias` instead
    // (TCK taxonomy: SyntaxError / InvalidAggregation).
    if (ExprCompiler.containsAggregate(w))
      throw new CypherCompileException(
        "aggregation is not allowed in WHERE; project it with WITH first",
        CE.SyntaxError, CE.InvalidAggregation)
    var ctx = ctx0
    val (patterns, residual) = splitPredicates(w)
    patterns.foreach { case (part, negated, innerWhere) =>
      ctx = planPatternPredicate(ctx, part, negated, innerWhere)
    }
    residual.foreach { r =>
      // Disjunctive / nested pattern predicates can't use the semi-join
      // fast path; materialize them as marker columns.
      val (ctx0b, r0b) =
        if (ExprOps.containsPatternPredicate(r))
          materializePatternPredicates(ctx, r)
        else (ctx, r)
      // Pattern comprehensions in WHERE (e.g. size([(n)-->(b) | b]) > 1).
      val (ctx0c, r0c) =
        if (ExprOps.containsPatternComp(r0b))
          materializePatternComps(ctx0b, r0b)
        else (ctx0b, r0b)
      // Lambdas over relationships(p)/nodes(p) reading binder properties.
      val (ctx1, r1) = materializeEntityLists(ctx0c, r0c)
      val (ctx2, r2) = bindEndpointNodes(ctx1, Seq(r1)) match {
        case (c, Seq(e2)) => (c, e2)
      }
      // WHERE null (or any null-typed predicate) keeps no rows; Spark's
      // Filter rejects a VOID condition outright. A statically non-boolean
      // predicate is a classified type error (compileBoolOperand), never a
      // leaked Spark FILTER_NOT_BOOLEAN.
      val pred =
        if (ctx2.compiler.inferType(r2).contains(NullType)) lit(false)
        else ctx2.compiler.compileBoolOperand(r2)
      ctx = ctx2.copy(df = ctx2.df.filter(pred))
    }
    ctx
  }

  private def splitPredicates(e: Expr)
      : (Seq[(PatternPart, Boolean, Option[Expr])], Option[Expr]) = {
    val conjuncts = e match {
      case Ands(es) => es
      case other => Seq(other)
    }
    val pats = Seq.newBuilder[(PatternPart, Boolean, Option[Expr])]
    val rest = Seq.newBuilder[Expr]
    conjuncts.foreach {
      case PatternPredicate(part, neg, iw) => pats += ((part, neg, iw))
      case Not(PatternPredicate(part, neg, iw)) => pats += ((part, !neg, iw))
      case other => rest += other
    }
    val restSeq = rest.result()
    val residual =
      if (restSeq.isEmpty) None
      else if (restSeq.size == 1) Some(restSeq.head)
      else Some(Ands(restSeq))
    (pats.result(), residual)
  }

  /** Pattern predicate in *value* position (RETURN exists(...), OR-nested,
    * CASE, ...): plan the subpattern, left-outer-join a distinct marker,
    * rewrite the expression to IS NOT NULL on the marker — the reference's
    * ExistsSubQuery formulation (RelationalPlanner.scala:224-247). Returns
    * the augmented context and the rewritten expression. */
  private def materializePatternPredicates(ctx0: Ctx, e: Expr): (Ctx, Expr) = {
    var ctx = ctx0
    val rewritten = ExprOps.transformUp(e) {
      case PatternPredicate(part, negated, innerWhere)
          if outerOnlyWhereRefs(ctx, part, innerWhere).nonEmpty =>
        val (c2, repl) = materializeQuerySub(ctx,
          patternPredicateAsQuerySub(part, innerWhere))
        ctx = c2
        if (negated) Not(repl) else repl
      case PatternPredicate(part, negated, innerWhere) =>
        val sub = withElideAll { planMatch(unitCtx, Pattern(Seq(part)), innerWhere) }
        val shared = sub.header.kinds.keySet.intersect(ctx.header.kinds.keySet)
          .filter(v => sub.header.contains(IdSlot(v)) &&
            ctx.header.contains(IdSlot(v)))
        val marker = freshVar()
        val markerSlot = ValueSlot(marker)
        val markerCol = RecordHeader.colName(markerSlot)
        if (shared.isEmpty) {
          // Uncorrelated (openCypher permits it): one global existence bit,
          // broadcast onto every outer row.
          val subDf = sub.df.limit(1).select(lit(true).as(markerCol))
          ctx = Ctx(ctx.df.join(subDf, lit(true), "left_outer"),
            ctx.header.withSlot(markerSlot).withVar(marker, ValueKind))
        } else {
          val renamed = shared.toSeq.map { v =>
            val c = sub.header.col(IdSlot(v))
            (v, c, "_pp_" + c)
          }
          val subDf = sub.df
            .select(renamed.map { case (_, c, r) => col(c).as(r) }: _*)
            .distinct()
            .withColumn(markerCol, lit(true))
          val cond = renamed.map { case (v, _, r) =>
            col(ctx.header.col(IdSlot(v))) === col(r)
          }.reduce(_ && _)
          ctx = Ctx(
            ctx.df.join(subDf, cond, "left_outer")
              .drop(renamed.map(_._3): _*),
            ctx.header.withSlot(markerSlot).withVar(marker, ValueKind))
        }
        val base = IsNull(Var(marker), negated = true)
        if (negated) Not(base) else base
      case other => other
    }
    (ctx, rewritten)
  }

  /** Pattern comprehension `[ (a)-->(b) WHERE p | proj ]` in value
    * position: plan the pattern as a correlated subquery, aggregate the
    * projection per binding of the SHARED variables, left-join the lists
    * back, rewrite the expression to the list column. Correlating on the
    * shared vars (not a row id) is exact: outer rows with equal shared
    * bindings have equal lists by definition. Unmatched rows get [].
    * List order is unspecified (as in openCypher without ORDER BY). */
  /** Full-query subquery expression (EXISTS/COUNT/COLLECT { <query> }):
    * desugared onto the correlated CALL {{ }} machinery. The body's RETURN
    * becomes a WITH (keeping DISTINCT/SKIP/LIMIT — they change the row
    * set, hence the count), an aggregate RETURN (count(*) or collect) is
    * appended, and the whole thing plans as an OPTIONAL CALL so driving
    * rows with zero subquery rows keep a null aggregate (coalesced to
    * 0 / [] / false). UNION bodies nest one more CALL level so the row-id
    * scoped UNION-distinct applies per driving row. */
  private def materializeQuerySub(ctx0: Ctx, qs: QuerySub): (Ctx, Expr) = {
    var ctx = ctx0
    val arms = qs.inner.first +: qs.inner.rest.map(_._2)
    val refSets = arms.flatMap(_.clauses.map(ExprOps.clauseRefs))
    val outerVars = ctx.header.kinds.keySet.filterNot(_.matches("_a\\d+"))
    val imports =
      (if (refSets.contains(None)) outerVars
       else refSets.flatten.flatten.toSet.intersect(outerVars)).toSeq.sorted
    def importWith(vs: Seq[String]) = With(distinct = false, star = false,
      vs.map(v => ReturnItem(Var(v), None)), Seq.empty, None, None, None)
    val valName = freshVar()
    // Ordered COLLECT (single-arm): (sortKeyAlias, ascending) pairs the
    // rewritten arm projected alongside the value, consumed by the
    // _collectordered aggregate so the list comes back in ORDER BY order.
    var collectSortKeys: Seq[(String, Boolean)] = Seq.empty
    // The body's trailing RETURN -> a WITH projecting the (aliased) items.
    def rewriteArm(sq: SingleQuery, forNestedCall: Boolean): SingleQuery = {
      val (body, retOpt) = sq.clauses.lastOption match {
        case Some(r: Return) => (sq.clauses.init, Some(r))
        case _ => (sq.clauses, None)
      }
      val tail: Seq[Clause] = retOpt match {
        case None =>
          if (qs.kind == "collect") throw new CypherCompileException(
            "COLLECT { } subquery must end in RETURN",
            CE.SyntaxError, CE.InvalidSyntax)
          if (forNestedCall)
            Seq(Return(distinct = false, star = false,
              Seq(ReturnItem(IntLit(1), Some(valName))), Seq.empty, None, None))
          else Seq.empty
        case Some(r) =>
          if (qs.kind == "collect" && (r.star || r.items.size != 1))
            throw new CypherCompileException(
              "COLLECT { } subquery must return exactly one column",
              CE.SyntaxError, CE.InvalidSyntax)
          if (qs.kind == "collect" && r.orderBy.nonEmpty && r.limit.isEmpty &&
              forNestedCall)
            throw new CypherCompileException(
              "COLLECT { } with ORDER BY over a UNION body is not supported " +
                "without LIMIT (the collected list is unordered)",
              CE.SemanticError, CE.UnsupportedExpression)
          // ORDER BY matters for SKIP/LIMIT row selection here; list order
          // itself is re-established by the _collectordered aggregate below
          // (single-arm COLLECT), since the selection's sort does not
          // survive the grouped aggregation.
          val ob = if (r.skip.isDefined || r.limit.isDefined) r.orderBy
                   else Seq.empty
          val aliased = r.items.zipWithIndex.map { case (i, ix) =>
            ReturnItem(i.expr,
              Some(if (ix == 0) valName else valName + "_" + ix))
          }
          val sortItems =
            if (qs.kind == "collect" && r.orderBy.nonEmpty && !forNestedCall) {
              // Project the sort keys next to the value. ORDER BY may
              // reference a RETURN alias (RETURN n.x AS v ORDER BY v) —
              // substitute the aliased expression, since the alias is
              // renamed to valName in the same projection.
              val aliasMap =
                r.items.flatMap(i => i.alias.map(_ -> i.expr)).toMap
              r.orderBy.zipWithIndex.map { case (si, ix) =>
                val e = ExprOps.transformUp(si.expr) {
                  case Var(n) if aliasMap.contains(n) => aliasMap(n)
                  case x => x
                }
                (ReturnItem(e, Some(valName + "_s" + ix)), si.ascending)
              }
            } else Seq.empty
          collectSortKeys = sortItems.map { case (ri, asc) => (ri.alias.get, asc) }
          if (forNestedCall)
            Seq(Return(r.distinct, r.star, aliased, ob, r.skip, r.limit))
          else
            Seq(With(r.distinct, r.star, aliased ++ sortItems.map(_._1),
              ob, r.skip, r.limit, None))
      }
      SingleQuery((if (imports.isEmpty) body
                   else importWith(imports) +: body) ++ tail)
    }
    // Rewrite the arms BEFORE building the aggregate: the single-arm
    // rewrite records collectSortKeys, which selects the ordered collect.
    val rewrittenHead: Seq[Clause] =
      if (arms.size == 1)
        rewriteArm(arms.head, forNestedCall = false).clauses
      else {
        val nested = CallSubquery(Query(
          rewriteArm(arms.head, forNestedCall = true),
          qs.inner.rest.map(_._1).zip(
            arms.tail.map(rewriteArm(_, forNestedCall = true)))))
        if (imports.isEmpty) Seq(nested) else Seq(importWith(imports), nested)
      }
    val aggExpr: Expr = qs.kind match {
      case "collect" if collectSortKeys.nonEmpty =>
        FuncCall("_collectordered",
          Var(valName) +: collectSortKeys.flatMap { case (a, asc) =>
            Seq(Var(a), StrLit(if (asc) "asc" else "desc"))
          }, distinct = false)
      case "collect" => FuncCall("collect", Seq(Var(valName)), distinct = false)
      case _ => CountStar
    }
    val outVar = freshVar()
    val aggReturn = Return(distinct = false, star = false,
      Seq(ReturnItem(aggExpr, Some(outVar))), Seq.empty, None, None)
    val outerBody: Seq[Clause] = rewrittenHead :+ aggReturn
    ctx = planCallSubquery(ctx, Query(SingleQuery(outerBody), Seq.empty),
      optional = true)
    val cnt = FuncCall("coalesce", Seq(Var(outVar), IntLit(0)), distinct = false)
    val replacement: Expr = qs.kind match {
      case "exists" => Cmp(">", cnt, IntLit(0))
      case "count" => cnt
      case "collect" =>
        FuncCall("coalesce", Seq(Var(outVar), ListLit(Seq.empty)),
          distinct = false)
    }
    (ctx, replacement)
  }

  private def materializePatternComps(ctx0: Ctx, e: Expr): (Ctx, Expr) = {
    var ctx = ctx0
    val rewritten = ExprOps.transformUp(e) {
      case qs: QuerySub =>
        val (c2, repl) = materializeQuerySub(ctx, qs)
        ctx = c2
        repl
      case PatternComp(part, where, proj) =>
        val sub = planMatch(unitCtx, Pattern(Seq(part)), where)
        val shared = sub.header.kinds.keySet.intersect(ctx.header.kinds.keySet)
          .filter(v => sub.header.contains(IdSlot(v)) &&
            ctx.header.contains(IdSlot(v)))
        val listVar = freshVar()
        val listSlot = ValueSlot(listVar)
        val listCol = RecordHeader.colName(listSlot)
        // A bare entity var projects as the FULL entity struct (Neo4j: a
        // comprehension / single-MATCH COLLECT {} of nodes yields nodes,
        // not ids) — same capture rule as collect(n).
        val projCol = proj match {
          case Var(n) => sub.compiler.entityValueStruct(n)
            .getOrElse(sub.compiler.compile(proj))
          case _ => sub.compiler.compile(proj)
        }
        // struct-wrap the projection so collect_list keeps null elements
        // (Cypher comprehension lists may contain null; bare collect_list
        // silently drops them), then unwrap.
        val wrapped = struct(projCol.as("v")).as("_pc_proj")
        if (shared.isEmpty) {
          // Uncorrelated (openCypher permits it): one global list — the
          // no-key aggregate always yields exactly one row ([] on empty
          // input) — broadcast onto every outer row.
          val subDf = sub.df.select(wrapped).groupBy()
            .agg(transform(collect_list(col("_pc_proj")),
              x => x.getField("v")).as(listCol))
          ctx = Ctx(ctx.df.crossJoin(subDf),
            ctx.header.withSlot(listSlot).withVar(listVar, ValueKind))
        } else {
          val renamed = shared.toSeq.map { v =>
            val c = sub.header.col(IdSlot(v))
            (v, c, "_pc_" + c)
          }
          val subDf = sub.df
            .select(renamed.map { case (_, c, r) => col(c).as(r) } :+ wrapped: _*)
            .groupBy(renamed.map { case (_, _, r) => col(r) }: _*)
            .agg(transform(collect_list(col("_pc_proj")),
              x => x.getField("v")).as(listCol))
          val cond = renamed.map { case (v, _, r) =>
            col(ctx.header.col(IdSlot(v))) === col(r)
          }.reduce(_ && _)
          ctx = Ctx(
            ctx.df.join(subDf, cond, "left_outer")
              .drop(renamed.map(_._3): _*)
              .withColumn(listCol, coalesce(col(listCol), array())),
            ctx.header.withSlot(listSlot).withVar(listVar, ValueKind))
        }
        Var(listVar)
      case other => other
    }
    (ctx, rewritten)
  }

  // ---------------------------------------------- entity lists over paths
  /** Functions that read a variable as an ENTITY rather than as its id. */
  private val entityFnNames: Set[String] =
    Set("id", "type", "labels", "keys", "properties", "startnode", "endnode")

  /** True when any body expression uses `binder` beyond bare-id identity
    * (property access, type()/labels()/keys()/..., map projection, label
    * predicate) — the signal that the lambda needs entity structs. */
  private def binderUsedAsEntity(binder: String, bodies: Seq[Expr]): Boolean = {
    def walk(x: Any): Boolean = x match {
      case Prop(Var(n), _) if n == binder => true
      case FuncCall(f, Seq(Var(n)), _) if n == binder && entityFnNames(f) => true
      case MapProjection(n, _) if n == binder => true
      case HasLabels(Var(n), _) if n == binder => true
      case s: Seq[_] => s.exists(walk)
      case o: Option[_] => o.exists(walk)
      case p: Product => p.productIterator.exists(walk)
      case _ => false
    }
    bodies.exists(walk)
  }

  /** The (var, isRels) pair a lambda's list expression binds entities
    * from: relationships(p)/nodes(p) over a path, or a var-length rel
    * binder used directly (`all(e IN r WHERE e.prop ...)` — `r` IS a
    * relationship list, `isRelListVar` tells us from the header). */
  private def entityListTarget(l: Expr,
      listKind: String => Option[Boolean],
      pathTyped: Expr => Boolean = _ => false): Option[(Expr, Boolean)] =
    l match {
      case FuncCall(f @ ("relationships" | "nodes"), Seq(Var(p)), _) =>
        Some((Var(p), f == "relationships"))
      case FuncCall(f @ ("relationships" | "nodes"), Seq(pe), _)
          if pathTyped(pe) =>
        // nodes()/relationships() over a COMPUTED path value (e.g. the
        // desugared shortestPath(...) expression) — same materialization,
        // keyed by the whole expression.
        Some((pe, f == "relationships"))
      case Var(r) => listKind(r).map(isRels => (Var(r), isRels))
      case _ => None
    }

  /** All (path expression, isRels) pairs whose lambda bodies need entity
    * values. */
  private def entityListNeeds(e: Expr,
      listKind: String => Option[Boolean],
      pathTyped: Expr => Boolean = _ => false): Set[(Expr, Boolean)] = {
    val out = mutable.Set.empty[(Expr, Boolean)]
    def walk(x: Any): Unit = x match {
      case ListComprehension(v, l, w, proj) =>
        entityListTarget(l, listKind, pathTyped).foreach(t =>
          if (binderUsedAsEntity(v, w.toSeq ++ proj.toSeq)) out += t)
        (l +: (w.toSeq ++ proj.toSeq)).foreach(walk)
      case IterablePredicate(_, v, l, pred) =>
        entityListTarget(l, listKind, pathTyped).foreach(t =>
          if (binderUsedAsEntity(v, Seq(pred))) out += t)
        Seq(l, pred).foreach(walk)
      case Reduce(_, init, v, l, step) =>
        entityListTarget(l, listKind, pathTyped).foreach(t =>
          if (binderUsedAsEntity(v, Seq(step))) out += t)
        Seq(init, l, step).foreach(walk)
      case s: Seq[_] => s.foreach(walk)
      case o: Option[_] => o.foreach(walk)
      case p: Product => p.productIterator.foreach(walk)
      case _ => ()
    }
    walk(e)
    out.toSet
  }

  /** Full-graph scan of all relationships (or nodes) as one (df, element
    * struct, id column) triple for [[materializeEntityLists]]. The struct's
    * marker fields (leading underscore: _id, then _src/_tgt/_type for rels,
    * _labels for nodes) are the ExprCompiler entity-struct convention;
    * property fields follow under their plain names. */
  private def entityElementsDf(isRels: Boolean): (DataFrame, Column, String) = {
    val v = freshVar()
    if (isRels) {
      val (df, h, _) = relScanDf(v, Seq.empty, Seq.empty, undirected = false)
      val props = h.ownedBy(v).collect { case s @ PropSlot(_, k) => (k, h.col(s)) }
        .filterNot(_._1.startsWith("_")).sortBy(_._1)
      val elem = struct((Seq(
        col(h.col(IdSlot(v))).as("_id"),
        col(h.col(SrcSlot(v))).as("_src"),
        col(h.col(TgtSlot(v))).as("_tgt"),
        col(h.col(TypeSlot(v))).as("_type")) ++
        props.map { case (k, c) => col(c).as(k) }): _*)
      (df, elem, h.col(IdSlot(v)))
    } else {
      val (df, h, _) = nodeScanDf(NodeCons(v, Seq.empty, Seq.empty))
      val labels = h.ownedBy(v).collect { case LabelSlot(_, l) => l }.sorted
      val labelsCol =
        if (labels.isEmpty) array().cast(ArrayType(StringType))
        else array_compact(array(labels.map(l =>
          when(col(h.col(LabelSlot(v, l))), lit(l))): _*))
      val props = h.ownedBy(v).collect { case s @ PropSlot(_, k) => (k, h.col(s)) }
        .filterNot(_._1.startsWith("_")).sortBy(_._1)
      val elem = struct((Seq(
        col(h.col(IdSlot(v))).as("_id"),
        labelsCol.as("_labels")) ++
        props.map { case (k, c) => col(c).as(k) }): _*)
      (df, elem, h.col(IdSlot(v)))
    }
  }

  /** Lambdas (quantifiers / comprehensions / reduce) over relationships(p)
    * or nodes(p) that read the binder as an entity (`all(r IN
    * relationships(p) WHERE r.w > 4)`) need entity VALUES, but the path
    * struct stores bare ids (bindPaths). Materialize an ordered
    * entity-struct list per DISTINCT id array — correlating on the array
    * itself is exact, since equal id arrays have equal entity lists — via
    * posexplode + id-join against the full rel/node scan, left-join the
    * lists back, and swap the lambda's list expression for the new column.
    * The binder then compiles under ExprCompiler's entity-struct env rules
    * (bare binder still means the id, so identity semantics hold). One
    * id-keyed join + one aggregation per (path, kind), paid only by queries
    * using the shape; both sides stay key-bucketed at scale. */
  /** Turn an id-array column into a fresh value var holding the ordered
    * ENTITY-struct list (one distinct-key join against the full node/rel
    * element scan; position-sorted collect rebuilds the order). Shared by
    * the lambda machinery and UNWIND-over-nodes(p). */
  private def materializeEntityList(ctx0: Ctx, arr: Column,
      isRels: Boolean): (Ctx, String) = {
    val (entityDf, elemStruct, idCol) = entityElementsDf(isRels)
    val listVar = freshVar()
    val listCol = RecordHeader.colName(ValueSlot(listVar))
    val keys = ctx0.df.select(arr.as("_el_key"))
      .where(col("_el_key").isNotNull).distinct()
    val exploded = keys.select(col("_el_key"),
      posexplode(col("_el_key")).as(Seq("_el_pos", "_el_id")))
    val agg = exploded
      .join(entityDf, col("_el_id") === col(idCol), "left_outer")
      .groupBy(col("_el_key"))
      .agg(transform(
        array_sort(collect_list(struct(col("_el_pos").as("p"),
          elemStruct.as("e")))),
        x => x.getField("e")).as(listCol))
    val listT = agg.schema.fields.find(_.name == listCol).get.dataType
    (Ctx(
      ctx0.df.join(agg, arr <=> col("_el_key"), "left_outer").drop("_el_key")
        .withColumn(listCol,
          when(arr.isNull, lit(null).cast(listT))
            .otherwise(coalesce(col(listCol), array().cast(listT)))),
      ctx0.header.withSlot(ValueSlot(listVar)).withVar(listVar, ValueKind)),
      listVar)
  }

  private def materializeEntityLists(ctx0: Ctx, e: Expr): (Ctx, Expr) = {
    def listKind(v: String): Option[Boolean] =
      if (!ctx0.header.contains(PathSlot(v))) None
      else ctx0.header.kindOf(v) match {
        case Some(ListRelKind(_)) => Some(true)
        case Some(ListNodeKind(_)) => Some(false)
        case _ => None
      }
    def isPathStructVar(p: String): Boolean =
      ctx0.header.get(ValueSlot(p)).exists { c =>
        ctx0.df.schema.fields.find(_.name == c).map(_.dataType) match {
          case Some(StructType(fs)) => fs.map(_.name).toSeq == Seq("nodes", "rels")
          case _ => false
        }
      }
    // A computed path value (e.g. desugared shortestPath(...)): a struct
    // (nodes, rels) by static type.
    def isPathTyped(pe: Expr): Boolean = ctx0.compiler.inferType(pe) match {
      case Some(StructType(fs)) => fs.map(_.name).toSeq == Seq("nodes", "rels")
      case _ => false
    }
    val needs = entityListNeeds(e, listKind, isPathTyped).filter {
      case (Var(p), _) => listKind(p).isDefined || isPathStructVar(p)
      case _ => true // non-var targets already passed isPathTyped
    }
    if (needs.isEmpty) return (ctx0, e)
    var ctx = ctx0
    val replacement = mutable.Map.empty[(Expr, Boolean), String]
    needs.toSeq.sortBy(_.toString).foreach { case key @ (pe, isRels) =>
      val arr = pe match {
        case Var(p) if listKind(p).isDefined => col(ctx.header.col(PathSlot(p)))
        case Var(p) if isPathStructVar(p) =>
          col(ctx.header.col(ValueSlot(p)))
            .getField(if (isRels) "rels" else "nodes")
        case _ => ctx.compiler.compile(pe)
          .getField(if (isRels) "rels" else "nodes")
      }
      val (c2, listVar) = materializeEntityList(ctx, arr, isRels)
      ctx = c2
      replacement(key) = listVar
    }
    def swap(l: Expr, binder: String, bodies: Seq[Expr]): Option[Expr] =
      entityListTarget(l, listKind, isPathTyped).filter(t =>
        binderUsedAsEntity(binder, bodies) && replacement.contains(t))
        .map(t => Var(replacement(t)))
    val rewritten = ExprOps.transformUp(e) {
      case lc @ ListComprehension(v, l, w, proj) =>
        swap(l, v, w.toSeq ++ proj.toSeq)
          .map(nl => lc.copy(list = nl)).getOrElse(lc)
      case ip @ IterablePredicate(_, v, l, pred) =>
        swap(l, v, Seq(pred)).map(nl => ip.copy(list = nl)).getOrElse(ip)
      case rd @ Reduce(_, _, v, l, step) =>
        swap(l, v, Seq(step)).map(nl => rd.copy(list = nl)).getOrElse(rd)
      case other => other
    }
    (ctx, rewritten)
  }

  /** EXISTS-style pattern predicate -> left semi (or anti) join, the Spark
    * formulation of the reference's ExistsSubQuery
    * (RelationalPlanner.scala:224-247). */
  /** Vars an inner pattern-predicate WHERE references that the pattern
    * itself does not bind but the OUTER context does — the openCypher
    * "EXISTS sees the enclosing scope" cases the id-semi-join machinery
    * cannot correlate (outer value vars like an unwound entity, or outer
    * entities referenced only in the WHERE). Such predicates delegate to
    * the full QuerySub/CALL machinery, which imports them. */
  private def outerOnlyWhereRefs(ctx: Ctx, part: PatternPart,
      innerWhere: Option[Expr]): Set[String] = innerWhere match {
    case None => Set.empty
    case Some(w) =>
      val bound = ((part.head +: part.tail.map(_._2)).flatMap(_.variable) ++
        part.tail.map(_._1).flatMap(_.variable) ++ part.pathVar).toSet
      (ExprOps.varRefs(w) -- bound).filter(ctx.header.kinds.contains)
  }

  /** Pattern predicate with outer-only WHERE refs: desugar to an
    * EXISTS { MATCH ... RETURN 1 } QuerySub (imports handle the refs). */
  private def patternPredicateAsQuerySub(part: PatternPart,
      innerWhere: Option[Expr]): QuerySub =
    QuerySub("exists", Query(SingleQuery(Seq(
      Match(optional = false, Pattern(Seq(part)), innerWhere),
      Return(distinct = false, star = false,
        Seq(ReturnItem(IntLit(1), Some("_ppq"))), Seq.empty, None, None))),
      Seq.empty))

  private def planPatternPredicate(ctx: Ctx, part: PatternPart,
      negated: Boolean, innerWhere: Option[Expr] = None): Ctx = {
    if (outerOnlyWhereRefs(ctx, part, innerWhere).nonEmpty) {
      val (ctx2, repl) = materializeQuerySub(ctx,
        patternPredicateAsQuerySub(part, innerWhere))
      val pred = if (negated) Not(repl) else repl
      return ctx2.copy(df =
        ctx2.df.filter(ctx2.compiler.compileBoolOperand(pred)))
    }
    val sub = withElideAll { planMatch(unitCtx, Pattern(Seq(part)), innerWhere) }
    val shared = sub.header.kinds.keySet.intersect(ctx.header.kinds.keySet)
      .filter(v => sub.header.contains(IdSlot(v)) && ctx.header.contains(IdSlot(v)))
    if (shared.isEmpty)
      // Uncorrelated: all-or-nothing on global existence — semi/anti join
      // against a 1-row probe.
      return ctx.copy(df = ctx.df.join(sub.df.limit(1).select(lit(true).as("_pp_g")),
        lit(true), if (negated) "left_anti" else "left_semi"))
    val renamed = shared.toSeq.map { v =>
      val c = sub.header.col(IdSlot(v))
      (v, c, "_pp_" + c)
    }
    val subDf = sub.df
      .select(renamed.map { case (_, c, r) => col(c).as(r) }: _*).distinct()
    val cond = renamed.map { case (v, _, r) =>
      col(ctx.header.col(IdSlot(v))) === col(r)
    }.reduce(_ && _)
    ctx.copy(df = ctx.df.join(subDf, cond,
      if (negated) "left_anti" else "left_semi"))
  }

  /** OPTIONAL MATCH: plan the pattern standalone, then left-outer join on
    * the shared variables (RelationalPlanner.planOptional :298-330). */
  private def planOptionalMatch(ctx: Ctx, pattern: Pattern,
      where: Option[Expr]): Ctx = {
    if (ctx.isUnit) {
      // OPTIONAL MATCH as the first clause: Cypher returns one all-null row
      // when nothing matches, not zero rows — left-outer join the unit row
      // to the subplan.
      val sub = planMatch(unitCtx, pattern, where)
      val joined = spark.range(1).select(lit(1).as("_om_unit"))
        .join(sub.df, lit(true), "left_outer").drop("_om_unit")
      return Ctx(joined, sub.header)
    }
    val sub = planMatch(unitCtx, pattern, where)
    val shared = sub.header.kinds.keySet.intersect(ctx.header.kinds.keySet)
    // Columns of shared vars already exist on the lhs: join on ids, drop the
    // rhs copies of every shared-var column.
    val sharedIdCols = shared.toSeq.flatMap { v =>
      (sub.header.get(IdSlot(v)), ctx.header.get(IdSlot(v))) match {
        case (Some(s), Some(l)) => Some((v, s, l))
        case _ =>
          (sub.header.get(ValueSlot(v)), ctx.header.get(ValueSlot(v))) match {
            case (Some(s), Some(l)) => Some((v, s, l))
            case _ => None
          }
      }
    }
    val dropCols = shared.toSeq.flatMap(v => sub.header.colsOf(v))
    val renames = sharedIdCols.map { case (_, s, _) => s -> ("_om_" + s) }
    var subDf = sub.df
    renames.foreach { case (from, to) => subDf = subDf.withColumnRenamed(from, to) }
    subDf = subDf.drop(dropCols.filterNot(c => renames.exists(_._1 == c)): _*)
    if (sharedIdCols.isEmpty) {
      // No shared vars: every lhs row pairs with every match, but an empty
      // rhs must null-pad instead of dropping lhs rows (Cypher OPTIONAL
      // semantics) — a left-outer join on TRUE gives exactly that.
      val joined = ctx.df.join(subDf, lit(true), "left_outer")
      val newHeader = ctx.header ++ RecordHeader(
        sub.header.slots.filterNot { case (s, _) => shared(s.owner) },
        sub.header.kinds.view.filterKeys(!shared(_)).toMap)
      return Ctx(joined, newHeader)
    }
    val cond = sharedIdCols.map { case (_, s, l) =>
      col(l) === col("_om_" + s)
    }.reduce(_ && _)
    val joined = ctx.df.join(subDf, cond, "left_outer")
      .drop(renames.map(_._2): _*)
    val newHeader = ctx.header ++ RecordHeader(
      sub.header.slots.filterNot { case (s, _) => shared(s.owner) },
      sub.header.kinds.view.filterKeys(!shared(_)).toMap)
    Ctx(joined, newHeader)
  }

  // ------------------------------------------------------------ node scans
  /** Spark type normalization: Cypher integers are 64-bit, floats double
    * (SparkConversions.scala:54-75). */
  private def normalizeType(dt: DataType): DataType = dt match {
    case ByteType | ShortType | IntegerType => LongType
    case FloatType => DoubleType
    case other => other
  }

  /** Build a scan DataFrame for a node var: per-matching-table align to a
    * common header then unionByName — the reference's scan-union
    * (ScanGraph.scanOperator, RelationalPlanner.planScan :263-297). */
  /** Closed-world label-expression evaluation: the schema knows every
    * label combination, so a combination either satisfies the expression
    * or its table is excluded from the scan union outright. */
  private def evalLabelExpr(le: LabelExpr, labels: Set[String]): Boolean =
    le match {
      case LabelAtom(n) => labels.contains(n)
      case LabelWildcard => labels.nonEmpty
      case LabelAnd(a, b) => evalLabelExpr(a, labels) && evalLabelExpr(b, labels)
      case LabelOr(a, b) => evalLabelExpr(a, labels) || evalLabelExpr(b, labels)
      case LabelNot(e) => !evalLabelExpr(e, labels)
      // Runtime-resolved: cannot exclude a combo table at compile time.
      // Optimistic here; nodeScanDf adds the HasDynLabels row filter.
      case LabelDynamic(_) => true
    }

  /** A label expression as a boolean predicate over LabelSlot columns
    * (bound-variable re-constraint path; absent labels read false). */
  private def labelExprPredicate(v: String, le: LabelExpr): Expr = le match {
    case LabelAtom(n) => HasLabels(Var(v), Seq(n))
    case LabelWildcard => // any label present
      Cmp(">", FuncCall("size", Seq(FuncCall("labels", Seq(Var(v)),
        distinct = false)), distinct = false), IntLit(0))
    case LabelAnd(a, b) =>
      Ands(Seq(labelExprPredicate(v, a), labelExprPredicate(v, b)))
    case LabelOr(a, b) =>
      Ors(Seq(labelExprPredicate(v, a), labelExprPredicate(v, b)))
    case LabelNot(e) => Not(labelExprPredicate(v, e))
    case LabelDynamic(e) => HasDynLabels(Var(v), e)
  }

  private def hasDynLabel(le: LabelExpr): Boolean = le match {
    case LabelDynamic(_) => true
    case LabelAnd(a, b) => hasDynLabel(a) || hasDynLabel(b)
    case LabelOr(a, b) => hasDynLabel(a) || hasDynLabel(b)
    case LabelNot(e) => hasDynLabel(e)
    case _ => false
  }

  private def nodeScanDf(nc: NodeCons): (DataFrame, RecordHeader, Seq[Expr]) = {
    val tables = nc.labelExpr match {
      // A dynamic term disables compile-time table pruning outright: an
      // optimistic "true" would flip to pessimistic exclusion under a
      // negation (:!$(e) must not drop every table). All combo tables
      // scan; the runtime HasDynLabels filter applies the constraint and
      // Catalyst pushes its deterministic parts into the scans.
      case Some(le) if !hasDynLabel(le) => graph.nodeScansFor(nc.labels)
        .filter(t => evalLabelExpr(le, t.labels))
      case Some(_) => graph.nodeScansFor(nc.labels)
      case None => graph.nodeScansFor(nc.labels)
    }
    val v = nc.v
    if (tables.isEmpty) {
      val labelSlots = nc.labels.map(l => LabelSlot(v, l))
      val header = RecordHeader.empty.withSlot(IdSlot(v)).withSlots(labelSlots)
        .withVar(v, NodeKind(nc.labels.toSet))
      val schema = StructType(
        StructField(header.col(IdSlot(v)), LongType) +:
          labelSlots.map(s => StructField(header.col(s), BooleanType)).toSeq)
      return (spark.createDataFrame(new java.util.ArrayList[Row](), schema), header, Seq.empty)
    }
    val allLabels = tables.flatMap(_.labels).toSet ++ nc.labels
    val propTypes = unifyProps(tables.map(_.propTypes))
    var header = RecordHeader.empty.withSlot(IdSlot(v))
      .withSlots(allLabels.map(l => LabelSlot(v, l)))
      .withSlots(propTypes.keys.map(k => PropSlot(v, k)))
      .withVar(v, NodeKind(nc.labels.toSet))
    val dfs = tables.map { t =>
      val cols = col(ID).as(header.col(IdSlot(v))) +:
        (allLabels.toSeq.sorted.map(l =>
          lit(t.labels.contains(l)).as(header.col(LabelSlot(v, l)))) ++
          propTypes.toSeq.sortBy(_._1).map { case (k, dt) =>
            val c =
              if (t.propTypes.contains(k)) col(propCol(k)).cast(dt)
              else lit(null).cast(dt)
            c.as(header.col(PropSlot(v, k)))
          })
      t.df.select(cols: _*)
    }
    var df = dfs.reduce(_.unionByName(_))
    // Inline property equality filters ({k: v}): only self-contained
    // expressions (no variable references) can compile against the bare
    // scan; props referencing outer scope ("{seg: s}" after WITH) are
    // returned for the caller to apply once the scan is joined into ctx.
    val (closed, deferred) = nc.props.partition { case (_, e) =>
      !ExprOps.exists(e) { case Var(_) => true; case _ => false }
    }
    if (closed.nonEmpty) {
      val compiler = new ExprCompiler(header, df.schema, params, Map.empty, extensions)
      closed.foreach { case (k, e) =>
        df = df.filter(compiler.compile(Cmp("=", Prop(Var(v), k), e)))
      }
    }
    // A dynamic label term could not exclude tables at compile time; its
    // real constraint is a runtime row filter. Deferred (not applied to
    // the bare scan) because the expression may reference outer scope
    // (WITH 'A' AS l MATCH (n:$(l))).
    val dynFilter = nc.labelExpr.filter(hasDynLabel)
      .map(le => labelExprPredicate(nc.v, le))
    (df, header,
      deferred.map { case (k, e) => Cmp("=", Prop(Var(v), k), e): Expr } ++
        dynFilter)
  }

  /** Apply scan filters that needed outer-scope variables. */
  private def applyDeferred(ctx: Ctx, deferred: Seq[Expr]): Ctx =
    deferred.foldLeft(ctx)((c, e) => c.copy(df = c.df.filter(c.compiler.compile(e))))

  private def unifyProps(maps: Seq[Map[String, DataType]]): Map[String, DataType] = {
    val keys = maps.flatMap(_.keys).distinct
    keys.map { k =>
      val types = maps.flatMap(_.get(k)).map(normalizeType).distinct
      val unified = types.reduce { (a, b) =>
        if (a == b) a
        else if (Seq(a, b).forall(t => t == LongType || t == DoubleType)) DoubleType
        else if (Seq(a, b).forall(t => t == DateType || t == TimestampType)) TimestampType
        else StringType
      }
      k -> unified
    }.toMap
  }

  private def planNodeScanInto(ctx: Ctx, nc: NodeCons): Ctx = {
    val (df, header, deferred) = nodeScanDf(nc)
    val joined =
      if (ctx.isUnit) Ctx(df, header)
      else Ctx(ctx.df.crossJoin(df), ctx.header ++ header)
    applyDeferred(joined, deferred)
  }

  // ------------------------------------------------------------- rel scans
  /** Unified co-stored endpoint info across every rel table matching
    * `types` (reference NodeRelPattern/TripletPattern): available when all
    * tables co-store that side with an identical label set. Undirected
    * scans union a reversed copy, so their endpoint columns alternate
    * sides and never qualify. */
  private def coStoredSide(types: Seq[String], relSrc: Boolean,
      undirected: Boolean): Option[graft.graph.CoStoredNode] = {
    if (undirected) return None
    val tables = graph.relScansFor(types)
    if (tables.isEmpty) return None
    val infos = tables.flatMap(t => if (relSrc) t.srcNode else t.tgtNode)
    if (infos.size != tables.size) return None
    if (infos.map(_.labels).distinct.size != 1) return None
    Some(graft.graph.CoStoredNode(infos.head.labels,
      unifyProps(infos.map(_.propTypes))))
  }

  /** Physical column carrying co-stored node property `k` in the scan of
    * rel var `v` (var-qualified so two scans of the same type in one
    * pattern never collide). */
  private def npCol(v: String, relSrc: Boolean, k: String): String =
    "_np_" + v.map(c => if (c.isLetterOrDigit || c == '_') c else '_') +
      (if (relSrc) "_s_" else "_t_") + k

  private def relScanDf(v: String, types: Seq[String],
      props: Seq[(String, Expr)], undirected: Boolean,
      dynType: Option[(Boolean, Expr)] = None)
      : (DataFrame, RecordHeader, Seq[Expr]) = {
    val tables = graph.relScansFor(types)
    val propTypes = unifyProps(tables.map(_.propTypes))
    var header = RecordHeader.empty
      .withSlots(Seq(IdSlot(v), SrcSlot(v), TgtSlot(v), TypeSlot(v)))
      .withSlots(propTypes.keys.map(k => PropSlot(v, k)))
      .withVar(v, RelKind(types.toSet))
    if (tables.isEmpty) {
      val schema = StructType(Seq(
        StructField(header.col(IdSlot(v)), LongType),
        StructField(header.col(SrcSlot(v)), LongType),
        StructField(header.col(TgtSlot(v)), LongType),
        StructField(header.col(TypeSlot(v)), StringType)))
      return (spark.createDataFrame(new java.util.ArrayList[Row](), schema), header, Seq.empty)
    }
    // Pass co-stored endpoint properties through the scan under fixed
    // names; Catalyst prunes them when the planner does not bind them.
    val srcCo = coStoredSide(types, relSrc = true, undirected)
    val tgtCo = coStoredSide(types, relSrc = false, undirected)
    val dfs = tables.map { t =>
      def coCols(co: Option[graft.graph.CoStoredNode], relSrc: Boolean) =
        co.toSeq.flatMap { u =>
          val present = (if (relSrc) t.srcNode else t.tgtNode)
            .map(_.propTypes.keySet).getOrElse(Set.empty)
          val raw = if (relSrc) "nps_" else "npt_"
          u.propTypes.toSeq.sortBy(_._1).map { case (k, dt) =>
            val c =
              if (present(k)) col(raw + k).cast(dt)
              else lit(null).cast(dt)
            c.as(npCol(v, relSrc, k))
          }
        }
      val cols = Seq(
        col(ID).as(header.col(IdSlot(v))),
        col(SRC).as(header.col(SrcSlot(v))),
        col(TGT).as(header.col(TgtSlot(v))),
        col(TYPE).as(header.col(TypeSlot(v)))) ++
        propTypes.toSeq.sortBy(_._1).map { case (k, dt) =>
          val c =
            if (t.propTypes.contains(k)) col(propCol(k)).cast(dt)
            else lit(null).cast(dt)
          c.as(header.col(PropSlot(v, k)))
        } ++ coCols(srcCo, relSrc = true) ++ coCols(tgtCo, relSrc = false)
      t.df.select(cols: _*)
    }
    var df = dfs.reduce(_.unionByName(_))
    if (undirected) {
      // Union with the reversed orientation; exclude self-loops from the
      // reversed copy so they match once (RelationalPlanner.scala:154-164).
      // SrcSlot/TgtSlot bind in TRAVERSAL order (every downstream join
      // keys on them); RevSlot marks the reversed rows so startNode()/
      // endNode()/rel rendering can recover the STORED order (Neo4j is
      // truthful about endpoints however the pattern matched).
      val s = header.col(SrcSlot(v))
      val t = header.col(TgtSlot(v))
      header = header.withSlot(RevSlot(v))
      df = df.withColumn(header.col(RevSlot(v)), lit(false))
      val reversed = df
        .withColumn(header.col(RevSlot(v)), lit(true))
        .withColumnRenamed(s, "_swap").withColumnRenamed(t, s)
        .withColumnRenamed("_swap", t)
        .filter(col(s) =!= col(t))
        .select(df.columns.map(col): _*)
      df = df.unionByName(reversed)
    }
    // Same closed/deferred split as nodeScanDf: var-free props filter the
    // scan here; outer-scope ones come back for the caller.
    val (closed, deferred) = props.partition { case (_, e) =>
      !ExprOps.exists(e) { case Var(_) => true; case _ => false }
    }
    if (closed.nonEmpty) {
      val compiler = new ExprCompiler(header, df.schema, params, Map.empty, extensions)
      closed.foreach { case (k, e) =>
        df = df.filter(compiler.compile(Cmp("=", Prop(Var(v), k), e)))
      }
    }
    // Dynamic type `:$(expr)`: a self-contained expression filters the
    // scan here (pushed into the per-type parquet scans by Catalyst); one
    // referencing outer scope comes back deferred like outer-scope props.
    var dynDeferred = Seq.empty[Expr]
    dynType.foreach { case (neg, e) =>
      val pred: Expr = HasDynType(Var(v), e, neg)
      if (ExprOps.exists(e) { case Var(_) => true; case _ => false })
        dynDeferred = Seq(pred)
      else {
        val compiler = new ExprCompiler(header, df.schema, params, Map.empty, extensions)
        df = df.filter(compiler.compile(pred))
      }
    }
    (df, header,
      deferred.map { case (k, e) => Cmp("=", Prop(Var(v), k), e): Expr } ++
        dynDeferred)
  }

  // --------------------------------------------------------------- expand

  /** True when the endpoint's node-table join can be skipped: its id can be
    * bound straight off the relationship column because (a) the var is
    * structurally unobservable beyond its id (anonymous, or inside a
    * pattern-predicate subplan where only shared ids escape), (b) it has no
    * inline property predicates, and (c) every matching rel table's endpoint
    * space already guarantees the requested labels. Assumes referential
    * integrity of rel endpoints (the property-graph contract; the reference
    * makes the same assumption in its pattern scans,
    * okapi-logical/.../impl/LogicalOptimizer.scala:67-134). Skipping the
    * join matters at scale: an EXISTS over a fact-table rel otherwise pays
    * a node-table join only to discard it. */
  private def canElideEndpoint(nc: NodeCons, e: EdgeCons,
      isPatternSrc: Boolean): Boolean =
    (elideAllNodes || deadVars(nc.v) || nc.v.startsWith("_a")) &&
      nc.props.isEmpty &&
      nc.copyOf.isEmpty && {
        val tables = graph.relScansFor(e.types)
        tables.nonEmpty && tables.forall { t =>
          val implied =
            if (e.dir == BOTH) t.srcLabels intersect t.tgtLabels
            else if ((e.dir != INBOUND) == isPatternSrc) t.srcLabels
            else t.tgtLabels
          nc.labels.toSet.subsetOf(implied)
        }
      }

  /** Truthful (as-stored) endpoint columns of a bound rel var: undirected
    * scans bind SrcSlot/TgtSlot in traversal order with RevSlot marking
    * reversed rows; reading through the marker recovers storage order.
    * Vars without the marker (directed scans, created rels) are already
    * truthful. */
  private def storedEndCol(h: RecordHeader, v: String, src: Boolean): Column = {
    val fwd = col(h.col(if (src) SrcSlot(v) else TgtSlot(v)))
    h.get(RevSlot(v)) match {
      case Some(rc) =>
        when(coalesce(col(rc), lit(false)),
          col(h.col(if (src) TgtSlot(v) else SrcSlot(v)))).otherwise(fwd)
      case None => fwd
    }
  }

  /** Re-match of an already-bound relationship variable (carried through
    * WITH): reuse its src/tgt/type columns instead of planning a fresh rel
    * scan, whose header columns would collide with the bound ones.
    * Endpoints constrain by id equality; unbound endpoints join their node
    * scan on the rel's endpoint column. */
  private def planBoundRelEdge(ctx0: Ctx, e: EdgeCons,
      nodes: Map[String, NodeCons], bound: mutable.Set[String]): Ctx = {
    var df = ctx0.df
    var header = ctx0.header
    // Truthful endpoints: a rel matched undirected then re-matched with a
    // DIRECTION must constrain against storage order, not traversal order.
    val srcC = storedEndCol(header, e.v, src = true)
    val tgtC = storedEndCol(header, e.v, src = false)
    if (e.types.nonEmpty)
      df = df.filter(col(header.col(TypeSlot(e.v))).isin(e.types: _*))
    def bindEnd(v: String, c: Column): Unit =
      if (bound(v)) df = df.filter(col(header.col(IdSlot(v))) === c)
      else {
        val (nodeDf, nodeHeader, deferred) = nodeScanDf(nodes(v))
        df = df.join(nodeDf, c === col(nodeHeader.col(IdSlot(v))))
        header = header ++ nodeHeader
        bound += v
        val c2 = applyDeferred(Ctx(df, header), deferred)
        df = c2.df; header = c2.header
      }
    if (e.dir == BOTH) {
      if (bound(e.src) && bound(e.tgt)) {
        val s = col(header.col(IdSlot(e.src)))
        val t = col(header.col(IdSlot(e.tgt)))
        df = df.filter((s === srcC && t === tgtC) || (s === tgtC && t === srcC))
      } else throw new CypherCompileException(
        "re-matching a bound relationship undirected requires both endpoints bound")
    } else {
      val (patSrcC, patTgtC) = if (e.dir == INBOUND) (tgtC, srcC) else (srcC, tgtC)
      bindEnd(e.src, patSrcC)
      bindEnd(e.tgt, patTgtC)
    }
    applyDeferred(Ctx(df, header),
      e.props.map { case (k, ex) => Cmp("=", Prop(Var(e.v), k), ex): Expr }.toSeq)
  }

  private def planEdge(ctx0: Ctx, e: EdgeCons, nodes: Map[String, NodeCons],
      bound: mutable.Set[String]): Ctx = {
    var ctx = ctx0
    if (bound(e.v) && ctx.header.contains(SrcSlot(e.v)))
      return planBoundRelEdge(ctx, e, nodes, bound)
    val undirected = e.dir == BOTH
    // relSrc side of a pattern endpoint: for OUT the pattern src sits on
    // the rel's _src column, for IN on its _tgt column.
    def relSrcOf(isPatternSrc: Boolean): Boolean = (e.dir != INBOUND) == isPatternSrc
    def coStoredFor(nc: NodeCons, isPatternSrc: Boolean)
        : Option[graft.graph.CoStoredNode] =
      if (nc.copyOf.nonEmpty) None
      else coStoredSide(e.types, relSrcOf(isPatternSrc), undirected)
        .filter(co => nc.labels.toSet.subsetOf(co.labels))

    val srcElide = !bound(e.src) && !bound(e.tgt) && e.varLength.isEmpty &&
      canElideEndpoint(nodes(e.src), e, isPatternSrc = true)
    val srcCoDrive: Option[graft.graph.CoStoredNode] =
      if (!srcElide && !bound(e.src) && !bound(e.tgt) && e.varLength.isEmpty)
        coStoredFor(nodes(e.src), isPatternSrc = true)
      else None
    // Ensure an anchor endpoint is bound; scan the source if neither is
    // (unless the source can ride on the rel scan's endpoint column —
    // elided id-only, or a co-stored NodeRelPattern/TripletPattern read).
    if (!bound(e.src) && !bound(e.tgt) && !srcElide && srcCoDrive.isEmpty) {
      ctx = planNodeScanInto(ctx, nodes(e.src))
      bound += e.src
    }
    if (e.varLength.isDefined) return planVarLengthEdge(ctx, e, nodes, bound)

    val (relDf, relHeader, relDeferred) =
      relScanDf(e.v, e.types, e.props, undirected, e.dynType)
    val (srcSideSlot, tgtSideSlot) =
      if (e.dir == INBOUND) (TgtSlot(e.v), SrcSlot(e.v))
      else (SrcSlot(e.v), TgtSlot(e.v))

    var df = ctx.df
    var header = ctx.header ++ relHeader

    // Bind an endpoint id straight off the rel column (elided node join).
    def elideInto(v: String, sideSlot: Slot): Unit = {
      header = header.withSlot(IdSlot(v))
        .withVar(v, NodeKind(nodes(v).labels.toSet))
      df = df.withColumn(header.col(IdSlot(v)), col(relHeader.col(sideSlot)))
      bound += v
    }

    // Bind a co-stored endpoint: id, label flags, and properties all come
    // off the rel scan's passthrough columns — no node-table self-join.
    // Inline props filter afterwards; Catalyst pushes the closed ones into
    // the scan.
    def coStoredInto(v: String, co: graft.graph.CoStoredNode,
        sideSlot: Slot, isPatternSrc: Boolean): Unit = {
      val nc = nodes(v)
      val allLabels = co.labels ++ nc.labels
      header = header.withSlot(IdSlot(v))
        .withSlots(allLabels.map(l => LabelSlot(v, l)))
        .withSlots(co.propTypes.keys.map(k => PropSlot(v, k)))
        .withVar(v, NodeKind(nc.labels.toSet))
      df = df.withColumn(header.col(IdSlot(v)), col(relHeader.col(sideSlot)))
      allLabels.foreach { l =>
        df = df.withColumn(header.col(LabelSlot(v, l)), lit(co.labels.contains(l)))
      }
      co.propTypes.toSeq.sortBy(_._1).foreach { case (k, _) =>
        df = df.withColumn(header.col(PropSlot(v, k)),
          col(npCol(e.v, relSrcOf(isPatternSrc), k)))
      }
      bound += v
      if (nc.props.nonEmpty) {
        val c2 = applyDeferred(Ctx(df, header),
          nc.props.map { case (k, ex) => Cmp("=", Prop(Var(v), k), ex): Expr })
        df = c2.df; header = c2.header
      }
    }

    def bindTgt(): Unit = {
      if (bound(e.tgt)) {
        df = df.filter(
          col(header.col(IdSlot(e.tgt))) === col(relHeader.col(tgtSideSlot)))
      } else if (canElideEndpoint(nodes(e.tgt), e, isPatternSrc = false)) {
        elideInto(e.tgt, tgtSideSlot)
      } else coStoredFor(nodes(e.tgt), isPatternSrc = false) match {
        case Some(co) => coStoredInto(e.tgt, co, tgtSideSlot, isPatternSrc = false)
        case None =>
          val (nodeDf, nodeHeader, defTgt) = nodeScanDf(nodes(e.tgt))
          df = df.join(nodeDf,
            col(relHeader.col(tgtSideSlot)) === col(nodeHeader.col(IdSlot(e.tgt))))
          header = header ++ nodeHeader
          bound += e.tgt
          val c2 = applyDeferred(Ctx(df, header), defTgt)
          df = c2.df; header = c2.header
      }
    }

    if (srcElide || srcCoDrive.nonEmpty) {
      // Neither endpoint bound and the source rides on the rel scan: the
      // rel scan itself is the driving table.
      df = if (ctx.isUnit) relDf else ctx.df.crossJoin(relDf)
      header = ctx.header ++ relHeader
      if (srcElide) elideInto(e.src, srcSideSlot)
      else coStoredInto(e.src, srcCoDrive.get, srcSideSlot, isPatternSrc = true)
      bindTgt()
    } else if (bound(e.src)) {
      df = df.join(relDf,
        col(ctx.header.col(IdSlot(e.src))) === col(relHeader.col(srcSideSlot)))
      bindTgt()
    } else {
      // Only tgt bound: anchor from the target side.
      df = df.join(relDf,
        col(ctx.header.col(IdSlot(e.tgt))) === col(relHeader.col(tgtSideSlot)))
      if (canElideEndpoint(nodes(e.src), e, isPatternSrc = true)) {
        elideInto(e.src, srcSideSlot)
      } else coStoredFor(nodes(e.src), isPatternSrc = true) match {
        case Some(co) => coStoredInto(e.src, co, srcSideSlot, isPatternSrc = true)
        case None =>
          val (nodeDf, nodeHeader, defSrc) = nodeScanDf(nodes(e.src))
          df = df.join(nodeDf,
            col(relHeader.col(srcSideSlot)) === col(nodeHeader.col(IdSlot(e.src))))
          header = header ++ nodeHeader
          bound += e.src
          val c2 = applyDeferred(Ctx(df, header), defSrc)
          df = c2.df; header = c2.header
      }
    }
    // Drop this edge's unconsumed co-stored passthrough columns so they
    // never leak into later joins or the final projection.
    val npPrefix = "_np_" + e.v.map(c => if (c.isLetterOrDigit || c == '_') c else '_')
    val leftover = df.columns.filter(c =>
      c.startsWith(npPrefix + "_s_") || c.startsWith(npPrefix + "_t_"))
    if (leftover.nonEmpty) df = df.drop(leftover: _*)
    applyDeferred(Ctx(df, header), relDeferred)
  }

  /** Bounded var-length expand as unrolled joins with edge-isomorphism
    * filters (VarLengthExpandPlanner.scala:82-309), path = array of rel ids.
    * The per-hop rel scan is cached (InsertCachingOperators's purpose). */
  /** The restricted (_h_from, _h_to, _h_i) hop table a quantified path
    * pattern group traverses: the inner 1-hop pattern (labels, rel types,
    * property maps, inner arrow direction) plus its per-repetition WHERE,
    * planned as an isolated sub-match. Juxtaposition semantics fall out of
    * the hop-table translation: a chained repetition's shared node carries
    * BOTH the previous repetition's dst constraints and the next one's src
    * constraints, because it is the _h_to of one edge and the _h_from of
    * the next. Inner variables are scoped to the group (GQL); reusing an
    * outer binding inside the group is rejected like Neo4j does. */
  private def qppHopBase(ctx0: Ctx, spec: QppSpec): DataFrame = {
    val branches = spec +: spec.alts
    // Pattern union (GQL): every branch must bind the same variable names —
    // the group exports them as GROUP lists, which is only well-defined
    // when each repetition binds them regardless of the branch taken.
    if (branches.map(b =>
        (b.src.variable, b.rel.variable, b.dst.variable)).distinct.size > 1)
      throw new CypherCompileException(
        "every alternative of a quantified path pattern union must bind " +
          "the same variables",
        CE.SemanticError, CE.DifferentColumnsInUnion)
    def one(b: QppSpec): DataFrame = {
      val innerVars =
        (b.src.variable.toSeq ++ b.rel.variable.toSeq ++
          b.dst.variable.toSeq)
      innerVars.find(v => ctx0.header.kinds.contains(v)).foreach { v =>
        throw new CypherCompileException(
          s"variable $v is already bound outside the quantified path pattern",
          CE.SyntaxError, CE.VariableAlreadyBound)
      }
      val xv = b.src.variable.getOrElse(freshVar())
      val yv = b.dst.variable.getOrElse(freshVar())
      val rvv = b.rel.variable.getOrElse(freshVar())
      val innerPart = PatternPart(
        b.src.copy(variable = Some(xv)),
        Seq((b.rel.copy(variable = Some(rvv), varLength = None, qpp = None),
          b.dst.copy(variable = Some(yv)))))
      val sub = withElideAll {
        planMatch(unitCtx, Pattern(Seq(innerPart)), b.where)
      }
      sub.df.select(
        col(sub.header.col(IdSlot(xv))).as("_h_from"),
        col(sub.header.col(IdSlot(yv))).as("_h_to"),
        col(sub.header.col(IdSlot(rvv))).as("_h_i"))
    }
    // A step may be contributed by several branches (overlapping type
    // sets): keep duplicates out of the union — two identical
    // (from, to, rel) steps are the same step, not two paths. The
    // single-branch path stays distinct-free (no shuffle added).
    val base = branches.map(one).reduce(_ union _)
    if (spec.alts.isEmpty) base else base.distinct()
  }

  private def planVarLengthEdge(ctx0: Ctx, e: EdgeCons,
      nodes: Map[String, NodeCons], bound: mutable.Set[String]): Ctx = {
    val (lo, hiOpt) = e.varLength.get
    // No upper bound (`[*]`, `[*1..]`): a dynamic fixpoint loop below, not
    // a capped unroll. Bounded patterns keep the static (job-free) unroll.
    val unbounded = hiOpt.isEmpty
    val hi = hiOpt.getOrElse(math.max(lo, 1))
    require(unbounded || (hi >= lo && hi <= 30),
      s"var-length bounds out of range: $lo..$hi")
    val deep = unbounded || hi >= 2
    val undirected = e.dir == BOTH
    val rv = freshVar()
    // A quantified path pattern group restricts the hop table to the edge
    // set its inner pattern + WHERE define (one sub-planned 1-hop match);
    // a plain var-length pattern hops over the typed rel scan.
    val (hopBase, sizingDf, cacheableHop) = e.qpp match {
      case Some(spec) => val hb = qppHopBase(ctx0, spec); (hb, hb, false)
      case None =>
        val (relDf0, relHeader0, vlDeferred) =
          relScanDf(rv, e.types, e.props, undirected, e.dynType)
        require(vlDeferred.isEmpty,
          "var-length relationship properties/types cannot reference " +
            "outer variables")
        val s0 = relHeader0.col(SrcSlot(rv))
        val t0 = relHeader0.col(TgtSlot(rv))
        val i0 = relHeader0.col(IdSlot(rv))
        // Minimal oriented hop table (_h_from, _h_to, _h_i): traversal
        // always grows from the pattern's src toward its tgt; for IN the
        // underlying relationship is walked target->source.
        val (fromCol, toCol) = if (e.dir == INBOUND) (t0, s0) else (s0, t0)
        (relDf0.select(col(fromCol).as("_h_from"),
          col(toCol).as("_h_to"), col(i0).as("_h_i")),
          relDf0, e.props.isEmpty)
    }
    // The hop table is joined on _h_from once per unrolled hop; materializing
    // it pre-partitioned on that key means only the (smaller) growing
    // frontier shuffles each round — at 100 TB re-shuffling the edge table
    // per hop would dominate the expand. But the materialization itself costs
    // a full scan + shuffle + block write, so it only pays when the loop
    // actually reuses the table (hi >= 2) AND the scan is too big to
    // broadcast; for [*0..1]/[*1..1] patterns or broadcast-sized rel scans
    // the plain scan lets Catalyst broadcast each hop join — zero shuffles.
    val broadcastSized = {
      val thresh =
        sizingDf.sparkSession.sessionState.conf.autoBroadcastJoinThreshold
      thresh > 0 &&
        sizingDf.queryExecution.optimizedPlan.stats.sizeInBytes <= thresh
    }
    val hop =
      if (deep && !broadcastSized) {
        // Inline rel props / QPP inner filters make the scan
        // query-specific; otherwise the pinned hop table is a per-graph
        // artifact shared across queries.
        val build = () => Pin(hopBase.repartition(col("_h_from")))
        if (cacheableHop)
          graph.hopTable(e.types, e.dir == INBOUND, undirected, build)
        else build()
      } else hopBase

    val pfrom = "_vl_from_" + e.v
    val pto = "_vl_to_" + e.v
    val pids = RecordHeader.colName(PathSlot(e.v))
    // Under shortestPath/allShortestPaths the expand prunes per hop: a
    // (anchor, reached) pair closed at a shorter length can't yield a
    // minimal path, and prefixes of minimal paths are themselves minimal,
    // so dropping later arrivals never loses a result (BFS closure). This
    // bounds the frontier by the reachable-pair set instead of the full
    // bounded path count — the difference between O(pairs) and O(deg^k).
    // Pruning is only sound when solely minimal-length paths can survive
    // (k == 1 selectors) AND the selection is not deferred behind a
    // path-reading WHERE (the shortest SATISFYING path may arrive later
    // than the first). SHORTEST k / SHORTEST k GROUPS with k >= 2 keep
    // longer paths, so those enumerate the full bounded trail set and let
    // the window prune afterwards. A per-pair early-stop for k >= 2 (drop
    // full pairs from the frontier) is UNSOUND: a full pair's rows remain
    // prefixes of OTHER pairs' top-k paths, and prefix rank does not
    // transfer to extension rank — SCALE.md "SHORTEST k>=2 per-pair
    // early-stop" has the full argument and the rejected alternatives.
    // Prune only for a SINGLE-var-length-hop spec: with fixed hops (or
    // more var segments) around it, minimality of the total path does not
    // imply first arrival on this segment.
    val spPrune = shortestSpecs.find(_.hops == Seq((e.v, true)))
      .exists(s => (s.sel.mode == "shortest" || s.sel.mode == "allshortest") &&
        !deferredShortest.contains(s.key))
    // nodes(p) needs the intermediate node ids; accumulate them only when a
    // bound path variable spans this var-length hop (one extra array column
    // per frontier row otherwise wasted).
    val trackNodes =
      pathBinds.exists(_.hops.exists(h => h._1 == e.v && h._2)) ||
        e.qpp.exists(sp => sp.src.variable.isDefined || sp.dst.variable.isDefined)
    val pnodes = RecordHeader.colName(PathNodesSlot(e.v))
    // Anchor from whichever endpoint is bound. When only the target is
    // pre-bound ("MATCH (a:X) MATCH (b)-[*1..2]->(a)") the frontier grows
    // backwards over the reversed hop table and path ids are prepended, so
    // pids stays in src->tgt order either way.
    val anchorIsSrc = bound(e.src)
    val anchorVar = if (anchorIsSrc) e.src else e.tgt
    // Seed the frontier from the anchored side: a semi-join against the
    // bound ids keeps hop 1 (and everything grown from it) proportional to
    // the anchor instead of enumerating every relationship in the graph —
    // the difference between O(anchor·deg^k) and O(|E|·deg^(k-1)) work.
    val anchorIds = ctx0.df
      .select(col(ctx0.header.col(IdSlot(anchorVar))).as("_vl_anchor")).distinct()
    val (seedCol, growCol) = if (anchorIsSrc) ("_h_from", "_h_to") else ("_h_to", "_h_from")
    var paths: DataFrame = null
    val seed = hop
      .join(anchorIds, col(seedCol) === col("_vl_anchor"), "left_semi")
      .select(col("_h_from").as(pfrom), col("_h_to").as(pto),
        array(col("_h_i")).as(pids))
    var frontier =
      if (trackNodes)
        seed.withColumn(pnodes, array(col(pfrom), col(pto)))
      else seed
    val (aCol, oCol) = if (anchorIsSrc) (pfrom, pto) else (pto, pfrom)
    // Pairs closed at an earlier hop (shortest modes only). Zero-length
    // paths close (a, a) before hop 1.
    var closedPairs: DataFrame =
      if (spPrune && lo == 0) {
        val a = ctx0.df
          .select(col(ctx0.header.col(IdSlot(anchorVar))).as("_sp_a")).distinct()
        Pin(a.select(col("_sp_a"), col("_sp_a").as("_sp_o")))
      } else null
    // Grow the frontier one hop, appending the rel id (edge isomorphism via
    // the array_contains guard) and, when tracked, the reached node id.
    def extend(fr: DataFrame): DataFrame = {
      val h2 = hop.select(col("_h_from").as("_n_f"), col("_h_to").as("_n_t"),
        col("_h_i").as("_n_i"))
      val extra = if (trackNodes) Seq(
        if (anchorIsSrc) concat(col(pnodes), array(col("_n_t"))).as(pnodes)
        else concat(array(col("_n_f")), col(pnodes)).as(pnodes)) else Seq.empty
      // shuffle_hash on the frontier: the hop table is pinned hash-
      // partitioned but unsorted, and a sort-merge join would re-SORT it
      // every hop (r14, guide §3.1); hashing the frontier partition is
      // the per-hop-cheap build. The rel-id uniqueness guard rides as the
      // join's residual condition under either strategy.
      if (anchorIsSrc)
        fr.hint("shuffle_hash").join(h2,
            col(pto) === col("_n_f") && !array_contains(col(pids), col("_n_i")))
          .select(col(pfrom) +: col("_n_t").as(pto) +:
            concat(col(pids), array(col("_n_i"))).as(pids) +: extra: _*)
      else
        fr.hint("shuffle_hash").join(h2,
            col(pfrom) === col("_n_t") && !array_contains(col(pids), col("_n_i")))
          .select(col("_n_f").as(pfrom) +: col(pto) +:
            concat(array(col("_n_i")), col(pids)).as(pids) +: extra: _*)
    }
    // Shortest-mode BFS closure helpers: drop rows for pairs closed at a
    // shorter length; record this level's pairs. Duplicates are harmless to
    // an anti-join, so the closure set is a plain union of projections.
    def prune(fr: DataFrame): DataFrame =
      if (closedPairs == null) fr
      else fr.join(closedPairs,
        col(aCol) === col("_sp_a") && col(oCol) === col("_sp_o"), "left_anti")
    def recordClosed(fr: DataFrame): Unit = {
      val newPairs = fr.select(col(aCol).as("_sp_a"), col(oCol).as("_sp_o"))
      closedPairs =
        if (closedPairs == null) newPairs
        else closedPairs.unionByName(newPairs)
    }
    if (!unbounded) {
      for (k <- 1 to hi) {
        if (spPrune && k >= math.max(lo, 1)) {
          frontier = prune(frontier)
          if (k < hi) {
            // Pin: the pruned frontier is read three ways (paths union, next
            // hop, closed-pair projection) and the anti-join lineage would
            // otherwise grow quadratically with hop count.
            frontier = Pin(frontier)
            recordClosed(frontier)
          }
        }
        if (k >= lo) paths = if (paths == null) frontier else paths.unionByName(frontier)
        if (k < hi) frontier = extend(frontier)
      }
    } else {
      // Fixpoint: iterate until the frontier is empty. Each level is
      // eagerly pinned (the connected-components loop shape,
      // GraphAlgorithms) so every round reads materialized blocks instead
      // of recursively growing lineage; rel-id uniqueness guarantees
      // termination at the longest rel-unique walk. A conf'd iteration
      // ceiling guards pathological graphs by THROWING — never silently
      // truncating, which is what the old VarLengthCap unroll did.
      val maxIters = spark.conf.getOption("spark.graft.varLength.maxIterations")
        .map(_.toInt).getOrElse(256)
      var k = 1
      var cont = true
      while (cont) {
        if (spPrune && k >= math.max(lo, 1)) frontier = prune(frontier)
        // Lazy pin + count: the count materializes the checkpoint AND
        // answers the emptiness test in ONE job per level (the old
        // eager-pin-then-isEmpty shape ran two).
        frontier = Pin(frontier)
        if (frontier.count() == 0L) cont = false
        else {
          if (spPrune && k >= math.max(lo, 1)) recordClosed(frontier)
          if (k >= lo) paths = if (paths == null) frontier else paths.unionByName(frontier)
          if (k >= maxIters) throw new CypherCompileException(
            s"unbounded var-length expand exceeded $maxIters levels " +
              "(raise spark.graft.varLength.maxIterations)")
          frontier = extend(frontier)
          k += 1
        }
      }
      if (paths == null) paths = frontier.limit(0)
    }
    if (lo == 0) {
      // Zero-length: anchored endpoint pairs with itself, empty path.
      val zero0 = ctx0.df.select(col(ctx0.header.col(IdSlot(anchorVar))).as(pfrom))
        .distinct()
        .select(col(pfrom), col(pfrom).as(pto),
          array().cast(ArrayType(LongType)).as(pids))
      val zero =
        if (trackNodes) zero0.withColumn(pnodes, array(col(pfrom)))
        else zero0
      paths = if (paths == null) zero else paths.unionByName(zero)
    }

    val (anchorCol, otherCol, otherVar) =
      if (anchorIsSrc) (pfrom, pto, e.tgt) else (pto, pfrom, e.src)
    var df = ctx0.df.join(paths,
      col(ctx0.header.col(IdSlot(anchorVar))) === col(anchorCol))
    var header = ctx0.header
      .withSlot(PathSlot(e.v)).withVar(e.v, ListRelKind(e.types.toSet))
    if (trackNodes) header = header.withSlot(PathNodesSlot(e.v))
    // Quantified path patterns export their named inner node variables as
    // GROUP lists (GQL): x = the src of every repetition (all nodes but
    // the last), y = the dst of every repetition (all but the first).
    // Both slice the accumulated node-id array — empty at zero
    // repetitions.
    e.qpp.foreach { sp =>
      def exportNodes(vOpt: Option[String], labels: Seq[String],
          fromStart: Boolean): Unit = vOpt.foreach { nv =>
        val cn = RecordHeader.colName(PathSlot(nv))
        val len = greatest(F.size(col(pnodes)) - 1, lit(0))
        df = df.withColumn(cn,
          if (fromStart) F.slice(col(pnodes), lit(1), len)
          else F.slice(col(pnodes), lit(2), len))
        header = header.withSlot(PathSlot(nv))
          .withVar(nv, ListNodeKind(labels.toSet))
      }
      exportNodes(sp.src.variable, sp.src.labels, fromStart = true)
      exportNodes(sp.dst.variable, sp.dst.labels, fromStart = false)
    }
    if (bound(otherVar)) {
      df = df.filter(col(ctx0.header.col(IdSlot(otherVar))) === col(otherCol))
    } else {
      val onc = nodes(otherVar)
      // Same endpoint-join elision as the fixed-hop expand: an
      // unconstrained endpoint that nothing downstream observes binds its
      // id straight off the hop column (referential integrity — the
      // property-graph contract). Without this, an unlabeled far endpoint
      // of a var-length/QPP expand joins the UNION OF EVERY node table
      // just to discard it; restricted to the fully-unconstrained case
      // because the hop union spans arbitrary types, so no label set is
      // implied by the rel tables.
      val elide = (elideAllNodes || deadVars(otherVar) ||
          otherVar.startsWith("_a")) &&
        onc.labels.isEmpty && onc.labelExpr.isEmpty &&
        onc.props.isEmpty && onc.copyOf.isEmpty
      if (elide) {
        header = header.withSlot(IdSlot(otherVar))
          .withVar(otherVar, NodeKind(Set.empty))
        df = df.withColumn(header.col(IdSlot(otherVar)), col(otherCol))
        bound += otherVar
      } else {
        val (nodeDf, nodeHeader, defOther) = nodeScanDf(onc)
        df = df.join(nodeDf, col(otherCol) === col(nodeHeader.col(IdSlot(otherVar))))
        header = header ++ nodeHeader
        bound += otherVar
        val c2 = applyDeferred(Ctx(df, header), defOther)
        df = c2.df; header = c2.header
      }
    }
    Ctx(df.drop(pfrom, pto), header)
  }

  // --------------------------------------------------------------- unwind
  private def planUnwind(ctx: Ctx, e: Expr, alias: String): Ctx = {
    // UNWIND over nodes()/relationships() of a path — or over a
    // var-length relationship-list binder — unwinds ENTITIES (Neo4j), not
    // bare ids: materialize the entity-struct list first, then explode.
    def isPathTyped(pe: Expr): Boolean = ctx.compiler.inferType(pe) match {
      case Some(StructType(fs)) => fs.map(_.name).toSeq == Seq("nodes", "rels")
      case _ => false
    }
    def isPathVar(pe: Expr): Boolean = pe match {
      case Var(p) => ctx.header.kindOf(p) match {
        case Some(ListRelKind(_)) | Some(ListNodeKind(_)) => true
        case _ => ctx.header.get(ValueSlot(p)).exists { c =>
          ctx.df.schema.fields.find(_.name == c).map(_.dataType) match {
            case Some(StructType(fs)) =>
              fs.map(_.name).toSeq == Seq("nodes", "rels")
            case _ => false
          }
        }
      }
      case _ => false
    }
    val entitySrc: Option[(Column, Boolean)] = e match {
      case FuncCall(f @ ("nodes" | "relationships"), Seq(pe), _)
          if isPathTyped(pe) || isPathVar(pe) =>
        Some((ctx.compiler.compile(e), f == "relationships"))
      case Var(r) if ctx.header.kindOf(r).exists(_.isInstanceOf[ListRelKind]) =>
        Some((ctx.compiler.compile(e), true))
      case Var(r) if ctx.header.kindOf(r).exists(_.isInstanceOf[ListNodeKind]) =>
        Some((ctx.compiler.compile(e), false))
      case _ => None
    }
    entitySrc.foreach { case (arr, isRels) =>
      val (ctx2, listVar) = materializeEntityList(ctx, arr, isRels)
      val slot = ValueSlot(alias)
      val name = RecordHeader.colName(slot)
      val df = ctx2.df.withColumn(name,
        explode(col(ctx2.header.col(ValueSlot(listVar)))))
      return Ctx(df, ctx2.header.withSlot(slot).withVar(alias, ValueKind))
    }
    // UNWIND null produces no rows (openCypher); a null-typed expression
    // would not even type-check under explode, so substitute an empty list.
    // A statically non-list operand (map, number, string, ...) is a
    // compile-time type error (Neo4j: "expected List<T>"), not a leaked
    // Spark DATATYPE_MISMATCH from explode.
    val static = ctx.compiler.inferType(e)
    // A parameter operand is untyped statically but its VALUE is known at
    // plan time — check it here rather than leaking explode's mismatch.
    e match {
      case Param(n) if params.contains(n) => params(n) match {
        case null => ()
        case _: Seq[_] | _: Array[_] | _: java.util.List[_] => ()
        case other => throw new CypherCompileException(
          s"UNWIND expects a list, got ${other.getClass.getSimpleName}",
          CE.TypeError, CE.InvalidArgumentType)
      }
      case _ => ()
    }
    val c =
      if (e == NullLit || static.contains(NullType)) array().cast(ArrayType(StringType))
      else {
        static match {
          // Neo4j raises a TypeError-class failure for UNWIND over maps /
          // scalars ("Expected list<T> but was ..."), so classify as
          // TypeError — SyntaxError would diverge on TCK error-class
          // comparisons (ADVICE r12).
          case Some(_: ArrayType) | None => ()
          case Some(other) => throw new CypherCompileException(
            s"UNWIND expects a list, got $other",
            CE.TypeError, CE.InvalidArgumentType)
        }
        ctx.compiler.compile(e)
      }
    val slot = ValueSlot(alias)
    val name = RecordHeader.colName(slot)
    val df = ctx.df.withColumn(name, explode(c))
    Ctx(df, ctx.header.withSlot(slot).withVar(alias, ValueKind))
  }

  /** LOAD CSV: a distributed spark.read.csv scan (all fields read as
    * STRINGS, Neo4j semantics — empty fields arrive null); with headers
    * the row binds as a struct of the header's static keys, without as a
    * LIST<STRING>. Incoming rows cross-join the file (Neo4j's per-row
    * semantics); at scale the file scan distributes with the cluster,
    * which is the whole point of running LOAD CSV on Spark. */
  private def planLoadCsv(ctx: Ctx, headers: Boolean, urlE: Expr,
      alias: String, sep: Option[String]): Ctx = {
    val url = urlE match {
      case StrLit(s) => s
      case Param(n) => String.valueOf(params(n))
      case other => throw new CypherCompileException(
        s"LOAD CSV URL must be a string literal or parameter: $other")
    }
    val path = url.stripPrefix("file://")
    val raw = spark.read
      .option("header", headers.toString)
      .option("sep", sep.getOrElse(","))
      .csv(path)
    val slot = ValueSlot(alias)
    val c =
      if (headers) struct(raw.columns.map(col): _*)
      else array(raw.columns.map(c0 =>
        col(c0).cast(org.apache.spark.sql.types.StringType)): _*)
    val df = raw.select(c.as(RecordHeader.colName(slot)))
    val header = RecordHeader.empty.withSlot(slot).withVar(alias, ValueKind)
    if (ctx.isUnit) Ctx(df, header)
    else Ctx(ctx.df.crossJoin(df), ctx.header ++ header)
  }

  // ----------------------------------------------------------- projection
  private def planProjection(ctx0: Ctx, distinct: Boolean, star: Boolean,
      items0: Seq[ReturnItem], orderBy: Seq[SortItem], skip: Option[Expr],
      limit: Option[Expr], where: Option[Expr],
      stampOrder: Boolean = false): (Ctx, Seq[OutItem]) = {
    var ctx = ctx0
    val starItems =
      if (star) ctx.header.kinds.keys.toSeq.sorted.filterNot(_.startsWith("_a"))
        .map(v => ReturnItem(Var(v), None))
      else Seq.empty
    // `RETURN *` / `WITH *` with no named variables in scope is a TCK
    // SyntaxError (NoVariablesInScope), not an empty projection.
    if (star && starItems.isEmpty && items0.isEmpty)
      throw new graft.api.CypherException(CE.SyntaxError, CE.CompileTime,
        CE.NoVariablesInScope, "* with no variables in scope")
    val items1 = starItems ++ items0
    // openCypher: multiple result columns with the same name are not
    // supported (TCK SyntaxError/ColumnNameConflict) — covers duplicate
    // aliases, repeated expressions, and `*` colliding with an explicit
    // item. Checked on the pre-rewrite items so the name is the source
    // text the user wrote.
    locally {
      val names = items1.map(i => i.alias.getOrElse(Pretty.print(i.expr)))
      names.diff(names.distinct).headOption.foreach { d =>
        throw new graft.api.CypherException(CE.SyntaxError,
          CE.CompileTime, CE.ColumnNameConflict,
          s"multiple result columns with the same name '$d'")
      }
    }
    // Pattern predicates / comprehensions in value position
    // (RETURN exists(...) AS flag, RETURN [(n)-->(b) | b.x] AS xs).
    val items2 = items1.map { i =>
      var expr = i.expr
      if (ExprOps.containsPatternPredicate(expr)) {
        val (c2, e2) = materializePatternPredicates(ctx, expr)
        ctx = c2; expr = e2
      }
      if (ExprOps.containsPatternComp(expr)) {
        val (c3, e3) = materializePatternComps(ctx, expr)
        ctx = c3; expr = e3
      }
      locally {
        val (c4, e4) = materializeEntityLists(ctx, expr)
        ctx = c4; expr = e4
      }
      i.copy(expr = expr)
    }
    // startNode()/endNode() used as node values bind joined endpoint vars.
    val (ctxB, boundExprs) = bindEndpointNodes(ctx,
      items2.map(_.expr) ++ orderBy.map(_.expr))
    ctx = ctxB
    val (itemExprs, obExprs) = boundExprs.splitAt(items2.size)
    val items = items2.zip(itemExprs).map { case (i, e) => i.copy(expr = e) }
    val orderBy2 = orderBy.zip(obExprs).map { case (s, e) => s.copy(expr = e) }
    val compiler = ctx.compiler
    val hasAgg = items.exists(i => compiler.hasAggregation(i.expr))
    // Neo4j: ORDER BY may only aggregate when the projection itself
    // aggregates ("Cannot use aggregation in ORDER BY if there are no
    // aggregate expressions in the preceding RETURN/WITH") — classified,
    // not a leaked Spark UNSUPPORTED_EXPR_FOR_OPERATOR.
    if (!hasAgg && orderBy2.exists(si => compiler.hasAggregation(si.expr)))
      throw new CypherCompileException(
        "cannot use aggregation in ORDER BY without an aggregating " +
          "RETURN/WITH", CE.SyntaxError, CE.InvalidAggregation)

    case class Planned(item: ReturnItem, display: String, out: OutItem,
        newVar: Option[(String, VarKind)], copyVar: Option[String])

    def displayName(i: ReturnItem): String =
      i.alias.getOrElse(Pretty.print(i.expr))

    if (!hasAgg) {
      // 1. Compute value columns / var renames while old scope is intact.
      var df = ctx.df
      var newHeader = RecordHeader.empty
      val outs = Seq.newBuilder[OutItem]
      items.foreach { i =>
        val display = displayName(i)
        i.expr match {
          case Var(n) if ctx.header.kinds.contains(n) &&
              ctx.header.kindOf(n) != Some(ValueKind) =>
            val target = i.alias.getOrElse(n)
            if (target == n) {
              newHeader = newHeader ++ RecordHeader(
                ctx.header.slots.filter(_._1.owner == n),
                Map(n -> ctx.header.kinds(n)))
            } else {
              // WITH n AS m: copy all slots under the new name.
              val (renamedHeader, renames) = RecordHeader(
                ctx.header.slots.filter(_._1.owner == n),
                Map(n -> ctx.header.kinds(n))).renameVar(n, target)
              renames.foreach { case (from, to) =>
                df = df.withColumn(to, col(from))
              }
              newHeader = newHeader ++ renamedHeader
            }
            outs += OutVar(target, display)
          case expr =>
            val target = i.alias.getOrElse(display)
            val slot = ValueSlot(target)
            val name = RecordHeader.colName(slot)
            df = df.withColumn(name,
              new ExprCompiler(ctx.header, df.schema, params, Map.empty, extensions).compile(expr))
            newHeader = newHeader.withSlot(slot).withVar(target, ValueKind)
            outs += OutCol(name, display)
        }
      }
      val keepCols = newHeader.slots.values.toSeq.distinct
      val aliasMap: Map[Expr, String] = items.collect {
        case ReturnItem(e, alias) if !e.isInstanceOf[Var] =>
          e -> RecordHeader.colName(ValueSlot(alias.getOrElse(displayName(ReturnItem(e, alias)))))
      }.toMap
      var ctx2 = Ctx(df, ctx.header ++ newHeader) // old scope visible for ORDER BY
      // WITH DISTINCT under a LIVE order stamp (an upstream WITH … ORDER
      // BY whose sort this projection would otherwise erase): dedup via
      // groupBy + min(stamp) instead of dropDuplicates, so the distinct
      // rows keep their first-occurrence rank and a downstream collect()
      // still returns them in sort order (Neo4j: DISTINCT preserves the
      // incoming order of first occurrences). A plain dropDuplicates is
      // only order-preserving by few-partition luck — same class as the
      // part-50 collect bug.
      var preservedSeq: Option[String] = None
      if (distinct) {
        val liveStamp = ctx.ordSeq.filter(v => ctx.header.kinds.contains(v))
        liveStamp match {
          case Some(sv) if orderBy2.isEmpty =>
            val sName = RecordHeader.colName(ValueSlot(sv))
            val nv = freshVar()
            val nName = RecordHeader.colName(ValueSlot(nv))
            val dd = ctx2.df.groupBy(keepCols.map(col): _*)
              .agg(min(col(sName)).as(nName))
            ctx2 = Ctx(dd,
              newHeader.withSlot(ValueSlot(nv)).withVar(nv, ValueKind))
            preservedSeq = Some(nv)
          case _ =>
            ctx2 = Ctx(ctx2.df.select(keepCols.map(col): _*).dropDuplicates(),
              newHeader)
        }
      }
      where.foreach { w => ctx2 = applyWhere(ctx2, w) }
      ctx2 = applyOrderSkipLimit(ctx2, orderBy2, skip, limit, aliasMap)
      if (stampOrder && orderBy2.nonEmpty) {
        // Stamp a monotone row-sequence AFTER the sort (nondeterministic,
        // so Catalyst cannot push it below the Sort barrier): after a
        // range-partitioned global sort, (partition id << 33 | offset) is
        // strictly increasing with the sort order across EVERY partition
        // count — a following collect() can then re-establish the Cypher
        // "collect respects incoming order" guarantee at any scale. The
        // marker rides along as an anonymous value var (excluded from
        // user scope and star expansion); any later projection drops it.
        val seqVar = freshVar()
        val seqName = RecordHeader.colName(ValueSlot(seqVar))
        val finalDf = ctx2.df
          .withColumn(seqName, monotonically_increasing_id())
          .select((keepCols :+ seqName).map(col): _*)
        (Ctx(finalDf,
          newHeader.withSlot(ValueSlot(seqVar)).withVar(seqVar, ValueKind),
          ordSeq = Some(seqVar)), outs.result())
      } else preservedSeq match {
        case Some(nv) =>
          // Carry the preserved first-occurrence stamp forward so a later
          // collect() can order by it; it rides as an anonymous value var
          // like the stampOrder marker above.
          val nName = RecordHeader.colName(ValueSlot(nv))
          val finalDf = ctx2.df.select((keepCols :+ nName).map(col): _*)
          (Ctx(finalDf,
            newHeader.withSlot(ValueSlot(nv)).withVar(nv, ValueKind),
            ordSeq = Some(nv)), outs.result())
        case None =>
          val finalDf = ctx2.df.select(keepCols.map(col): _*)
          (Ctx(finalDf, newHeader), outs.result())
      }
    } else {
      // Aggregation: non-aggregate items are grouping keys
      // (implicit grouping, SURVEY §2.4).
      var df = ctx.df
      var newHeader = RecordHeader.empty
      val outsArr = new Array[OutItem](items.size)
      val groupCols = Seq.newBuilder[String]
      val aggCols = Seq.newBuilder[Column]
      // Grouping items are planned FIRST (regardless of their position in
      // the projection) so that items mixing an aggregate with a grouping
      // expression — `RETURN n.x AS k, n.x + count(*)` (openCypher: legal
      // when the expression is listed as a grouping key) — can substitute
      // the already-computed grouping column for the repeated expression.
      val subst = scala.collection.mutable.Map.empty[Expr, String]
      val indexed = items.zipWithIndex
      indexed.filter { case (i, _) => !compiler.hasAggregation(i.expr) }
        .foreach { case (i, idx) =>
          val display = displayName(i)
          i.expr match {
            case Var(n) if ctx.header.kinds.contains(n) &&
                ctx.header.kindOf(n) != Some(ValueKind) =>
              val target = i.alias.getOrElse(n)
              if (target != n) {
                val (renamedHeader, renames) = RecordHeader(
                  ctx.header.slots.filter(_._1.owner == n),
                  Map(n -> ctx.header.kinds(n))).renameVar(n, target)
                renames.foreach { case (from, to) =>
                  df = df.withColumn(to, col(from))
                }
                newHeader = newHeader ++ renamedHeader
                groupCols ++= renamedHeader.slots.values
                subst += (Var(n): Expr) -> target
              } else {
                newHeader = newHeader ++ RecordHeader(
                  ctx.header.slots.filter(_._1.owner == n),
                  Map(n -> ctx.header.kinds(n)))
                groupCols ++= ctx.header.colsOf(n)
              }
              outsArr(idx) = OutVar(target, display)
            case expr =>
              val target = i.alias.getOrElse(display)
              val slot = ValueSlot(target)
              val name = RecordHeader.colName(slot)
              df = df.withColumn(name,
                new ExprCompiler(ctx.header, df.schema, params, Map.empty, extensions).compile(expr))
              newHeader = newHeader.withSlot(slot).withVar(target, ValueKind)
              groupCols += name
              outsArr(idx) = OutCol(name, display)
              subst += expr -> target
          }
        }
      // Top-down, largest-expression-first substitution of grouping
      // expressions inside aggregate items (bottom-up would rewrite a
      // child before its parent could match).
      def substGroup(e: Expr): Expr = subst.get(e) match {
        case Some(t) => Var(t)
        case None => ExprOps.mapChildren(e, substGroup)
      }
      // A live order stamp (WITH … ORDER BY directly upstream, marker
      // column still in scope) upgrades bare collect() to the sort-aware
      // aggregate: Cypher's collect respects incoming row order, and a
      // plain collect_list only preserves it by luck on few-partition
      // local plans — after a range sort at scale the final merge order
      // is fetch order, not sort order.
      val ordKey = ctx.ordSeq.filter(v => ctx.header.kinds.contains(v))
      def orderCollect(e: Expr): Expr = e match {
        case FuncCall("collect", args, dist) if ordKey.isDefined =>
          // distinct=true keeps first occurrence in sort order (Neo4j):
          // _collectordered sorts by the stamp, then array_distinct —
          // which preserves the first occurrence — dedups.
          FuncCall("_collectordered",
            Seq(args.head, Var(ordKey.get), StrLit("asc")), distinct = dist)
        case other => ExprOps.mapChildren(other, orderCollect)
      }
      // openCypher: in an aggregating projection every non-aggregate
      // subexpression must be (part of) a listed grouping key. After the
      // grouping substitution, a variable still referenced OUTSIDE an
      // aggregate call is the Neo4j "aggregation column contains implicit
      // grouping expressions" error — raise it at COMPILE time (the
      // GraftSession MISSING_GROUP_BY translation only fires once Spark
      // analyzes the plan, and some shapes — a lone `a = count(*)` over a
      // cross-joined scalar — reached execution before analysis caught
      // them).
      def checkImplicitGrouping(e: Expr): Unit = e match {
        case CountStar => ()
        case FuncCall(n, _, _) if ExprCompiler.aggFns(n) => ()
        case Var(n) if !newHeader.kinds.contains(n) =>
          throw new CypherCompileException(
            s"aggregation column contains implicit grouping expression " +
              s"$n — list it as its own projection item",
            CE.SyntaxError, CE.AmbiguousAggregationExpression)
        case other => ExprOps.mapChildren(other,
          { c => checkImplicitGrouping(c); c })
      }
      indexed.filter { case (i, _) => compiler.hasAggregation(i.expr) }
        .foreach { case (i, idx) =>
          val display = displayName(i)
          if (ExprCompiler.nestedAggregation(i.expr))
            throw new CypherCompileException(
              s"nested aggregation in ${Pretty.print(i.expr)}",
              CE.SyntaxError, CE.NestedAggregation)
          checkImplicitGrouping(substGroup(i.expr))
          val target = i.alias.getOrElse(display)
          val slot = ValueSlot(target)
          val name = RecordHeader.colName(slot)
          aggCols += new ExprCompiler(ctx.header ++ newHeader, df.schema,
              params, Map.empty, extensions)
            .compile(orderCollect(substGroup(i.expr))).as(name)
          newHeader = newHeader.withSlot(slot).withVar(target, ValueKind)
          outsArr(idx) = OutCol(name, display)
        }
      val outs = { val b = Seq.newBuilder[OutItem]; b ++= outsArr; b }
      val gCols = groupCols.result().distinct
      val aCols = aggCols.result()
      val aggDf =
        if (gCols.isEmpty) df.agg(aCols.head, aCols.tail: _*)
        else df.groupBy(gCols.map(col): _*).agg(aCols.head, aCols.tail: _*)
      val aliasMap: Map[Expr, String] = items.collect {
        case ReturnItem(e, alias) if !e.isInstanceOf[Var] =>
          e -> RecordHeader.colName(ValueSlot(alias.getOrElse(displayName(ReturnItem(e, alias)))))
      }.toMap
      var ctx2 = Ctx(aggDf, newHeader)
      if (distinct) ctx2 = ctx2.copy(df = ctx2.df.dropDuplicates())
      where.foreach { w => ctx2 = applyWhere(ctx2, w) }
      ctx2 = applyOrderSkipLimit(ctx2, orderBy2, skip, limit, aliasMap)
      (ctx2, outs.result())
    }
  }

  // ------------------------------------------------------- CALL { } subquery
  /** CALL { [WITH imports] body RETURN items }: without an importing WITH
    * the subquery runs once against the graph and its rows cross-join onto
    * the driving table; with one, it runs logically once per driving row.
    * The correlated form plans the body INLINE on the driving table (so
    * Catalyst sees one join tree, not N subplans) and keys per-row
    * aggregation by a pinned synthetic row id — the same shape as pattern
    * comprehensions, generalized to a full subquery. */
  /** Mixing UNION and UNION ALL in one query is invalid per openCypher
    * (Neo4j raises the same); the fold would otherwise silently dedup
    * already-accumulated ALL arms. */
  private def checkUnionMix(q: Query): Unit =
    if (q.rest.map(_._1).distinct.size > 1) throw new CypherCompileException(
      "invalid combination of UNION and UNION ALL",
      CE.SyntaxError, CE.InvalidClauseComposition)

  /** The importing-WITH prefix of a CALL { } body: explicit `WITH a, b`
    * (bare unaliased vars), the CALL (*) star form (expanded to the full
    * named outer scope), or nothing. */
  private def splitCallImports(ctx0: Ctx, cls: Seq[Clause])
      : (Seq[String], Seq[Clause]) = cls match {
    case With(false, false, items, Seq(), None, None, None) +: rest
        if items.nonEmpty &&
          items.forall(i => i.alias.isEmpty && i.expr.isInstanceOf[Var]) =>
      (items.map(_.expr.asInstanceOf[Var].name), rest)
    case With(false, true, Seq(), Seq(), None, None, None) +: rest =>
      (ctx0.header.kinds.keySet.toSeq.sorted
        .filterNot(_.matches("_a\\d+")), rest)
    case c => (Seq.empty[String], c)
  }

  private def isWriteClause(c: Clause): Boolean =
    c.isInstanceOf[Create] || c.isInstanceOf[SetClause] ||
      c.isInstanceOf[Remove] || c.isInstanceOf[Delete] ||
      c.isInstanceOf[Merge] || c.isInstanceOf[Foreach]

  /** A unit CALL { } body: single arm, no RETURN, at least one update
    * clause — the CALL { } IN TRANSACTIONS shape (Neo4j "unit subquery"). */
  private def isUnitWriteSub(inner: Query): Boolean =
    inner.rest.isEmpty && {
      val body = inner.first.clauses.dropWhile {
        case w: With => w.items.forall(i =>
          i.alias.isEmpty && i.expr.isInstanceOf[Var])
        case _ => false
      }
      inner.first.clauses.nonEmpty &&
        !inner.first.clauses.exists(_.isInstanceOf[Return]) &&
        body.exists(isWriteClause)
    }

  /** Plan a unit (updating, RETURN-less) CALL { } body: the body runs once
    * per driving row over the imported variables only (openCypher subquery
    * scoping), its bindings are discarded, the driving rows pass through
    * unchanged, and the ambient graph becomes the written state — exactly
    * the top-level write-clause contract, restricted to the import scope.
    * Neo4j CallSubqueryAcceptance "unit subquery" semantics; batching
    * (IN TRANSACTIONS) is commit shape only and is parsed separately. */
  private def planUnitWriteCall(ctx0: Ctx, sq: SingleQuery): Ctx = {
    val (imports, body) = splitCallImports(ctx0, sq.clauses)
    imports.foreach { v =>
      if (!ctx0.header.kinds.contains(v)) throw new CypherCompileException(
        s"CALL { } imports unbound variable $v",
        CE.SyntaxError, CE.UndefinedVariable)
    }
    // Body frame: the imported slots, one row per driving row (an
    // uncorrelated body over N driving rows still executes N times —
    // a zero-column frame keeps the multiplicity without the bindings).
    var sub =
      if (ctx0.isUnit) unitCtx
      else if (imports.isEmpty) Ctx(ctx0.df.select(), RecordHeader.empty)
      else {
        val slots = ctx0.header.slots.filter {
          case (s, _) => imports.contains(s.owner) }
        Ctx(ctx0.df.select(slots.values.toSeq.distinct.map(col): _*),
          RecordHeader(slots,
            ctx0.header.kinds.filter { case (v, _) => imports.contains(v) }))
      }
    body.foreach {
      case w if isWriteClause(w) =>
        sub = planWriteClause(sub, w)
        graph = buildWrittenGraph()
      case Finish => ()
      case c if isReadingClause(c) => sub = planReadingClause(sub, c)
      case other => throw new CypherCompileException(
        s"CALL { } clause ${other.getClass.getSimpleName} is not supported " +
          "in a unit (updating) body",
        CE.SemanticError, CE.UnsupportedExpression)
    }
    ctx0
  }

  private def planCallSubquery(ctx0: Ctx, inner: Query,
      optional: Boolean = false): Ctx = {
    checkUnionMix(inner)
    if (optional && inner.rest.nonEmpty) throw new CypherCompileException(
      "OPTIONAL CALL { } with a UNION body is not supported",
      CE.SemanticError, CE.UnsupportedExpression)
    val res = if (inner.rest.isEmpty) planCallArm(ctx0, inner.first, None, optional)
    else {
      // UNION body: every arm (each with its own importing WITH, per
      // openCypher) shares ONE pinned row-id frame, so arm results are
      // driving ⋈ arm-output rows carrying the row id. Join distributes
      // over union, so unioning the joined arms equals joining the unioned
      // subquery output — and the row id scopes UNION's distinct to each
      // driving row even when outer rows are value-identical.
      val rowVar = freshVar()
      val rowSlot = ValueSlot(rowVar)
      val keyed = Ctx(
        Pin(ctx0.df.withColumn(RecordHeader.colName(rowSlot),
          monotonically_increasing_id())),
        ctx0.header.withSlot(rowSlot).withVar(rowVar, ValueKind))
      val arms = inner.first +: inner.rest.map(_._2)
      val results = arms.map(sq => planCallArm(ctx0, sq, Some((keyed, rowVar))))
      def outNames(c: Ctx): Seq[String] =
        (c.header.kinds.keySet -- keyed.header.kinds.keySet).toSeq.sorted
      val firstNames = outNames(results.head)
      val combined = inner.rest.map(_._1).zip(results.tail)
        .foldLeft(results.head) { case (acc, (all, r)) =>
          if (outNames(r) != firstNames) throw new CypherCompileException(
            "CALL { } UNION arms must return the same columns",
            CE.SyntaxError, CE.DifferentColumnsInUnion)
          val u = acc.df.unionByName(r.df, allowMissingColumns = true)
          Ctx(if (all) u else u.dropDuplicates(), acc.header ++ r.header)
        }
      Ctx(combined.df.drop(RecordHeader.colName(rowSlot)),
        RecordHeader(combined.header.slots.filterNot(_._1.owner == rowVar),
          combined.header.kinds - rowVar))
    }
    // Body writes can touch outer bindings (an imported var directly, or
    // any outer entity via a body-local alias); refresh the touched
    // (var, key) pairs from the written state so post-CALL reads observe
    // the final values — the FOREACH refresh rule, applied to the joined
    // result frame.
    val pairs = (inner.first +: inner.rest.map(_._2))
      .flatMap(a => writeSetKeys(a.clauses)).distinct
    if (pairs.isEmpty) res
    else {
      val outerEnt = ctx0.header.kinds.toSeq.collect {
        case (v, NodeKind(_)) => v
        case (v, RelKind(_)) => v
      }
      val touched = pairs.flatMap { case (v, kOpt) =>
        val targets =
          if (ctx0.header.kinds.contains(v)) Seq(v) else outerEnt
        targets.flatMap { tv =>
          kOpt match {
            case Some(k) => Seq((tv, k))
            case None => ctx0.header.kindOf(tv) match {
              case Some(NodeKind(_)) =>
                wNodes.flatMap(_.propTypes.keys).distinct.map((tv, _))
              case Some(RelKind(_)) =>
                wRels.flatMap(_.propTypes.keys).distinct.map((tv, _))
              case _ => Seq.empty
            }
          }
        }
      }
      refreshWrittenProps(res, touched)
    }
  }

  /** One CALL { } arm. `keyedOpt` (UNION bodies) supplies a shared pinned
    * row-id frame; the arm result then KEEPS the row-id column so the
    * caller can union arms per driving row. */
  private def planCallArm(ctx0: Ctx, inner: SingleQuery,
      keyedOpt: Option[(Ctx, String)], optional: Boolean = false): Ctx = {
    def unsupported(what: String): Nothing = throw new CypherCompileException(
      s"CALL { } $what is not supported",
      CE.SemanticError, CE.UnsupportedExpression)
    val (imports, body) = splitCallImports(ctx0, inner.clauses)
    val ret = body.lastOption match {
      case Some(r: Return) => r
      case _ => throw new CypherCompileException(
        "CALL { } must end in RETURN",
        CE.SyntaxError, CE.InvalidSyntax)
    }
    val clauses = body.init

    def checkClash(names: Iterable[String]): Unit = names.foreach { n =>
      if (ctx0.header.kinds.contains(n)) throw new CypherCompileException(
        s"CALL { } returns $n, which is already bound outside",
        CE.SyntaxError, CE.VariableAlreadyBound)
    }

    def isWriteClause(c: Clause): Boolean = c match {
      case _: Create | _: Merge | _: SetClause | _: Remove | _: Delete |
           _: Foreach => true
      case _ => false
    }
    val bodyWrites = clauses.exists(isWriteClause)
    // A WRITE body runs once per INPUT ROW (openCypher) even without
    // imports, so it must plan over the row-keyed driving frame; the
    // run-once-and-cross-join shortcut is only equivalent for reads.
    if (imports.isEmpty && (!bodyWrites || ctx0.isUnit)) {
      // Uncorrelated: plan from the unit context, cross-join the result.
      var sub = unitCtx
      clauses.foreach {
        case cs: CallSubquery =>
          sub = planCallSubquery(sub, cs.inner, cs.optional)
        case c if isWriteClause(c) =>
          sub = planWriteClause(sub, c); graph = buildWrittenGraph()
        case c if isReadingClause(c) => sub = planReadingClause(sub, c)
        case other => unsupported(s"clause ${other.getClass.getSimpleName}")
      }
      if (ret.star && sub.header.kinds.isEmpty) throw new CypherCompileException(
        "CALL { } RETURN * with no variables in scope",
        CE.SyntaxError, CE.InvalidSyntax)
      val (done, outs) = planProjection(sub, ret.distinct, star = ret.star,
        ret.items, ret.orderBy, ret.skip, ret.limit, None)
      checkClash(done.header.kinds.keys)
      keyedOpt match {
        // UNION arm: cross-join onto the shared keyed frame (row id kept).
        case Some((keyed, _)) =>
          Ctx(keyed.df.crossJoin(done.df), keyed.header ++ done.header)
        case None =>
          // OPTIONAL CALL { }: an empty uncorrelated result contributes
          // one all-null row instead of annihilating the driving rows.
          val doneDf =
            if (optional && done.df.isEmpty)
              done.df.sparkSession.range(1).select(done.df.schema.fields
                .map(f => lit(null).cast(f.dataType).as(f.name)): _*)
            else done.df
          if (ctx0.isUnit) Ctx(doneDf, done.header)
          else Ctx(ctx0.df.crossJoin(doneDf), ctx0.header ++ done.header)
      }
    } else {
      imports.foreach { v =>
        if (!ctx0.header.kinds.contains(v)) throw new CypherCompileException(
          s"CALL { } imports unbound variable $v",
          CE.SyntaxError, CE.UndefinedVariable)
      }
      // ORDER BY/SKIP/LIMIT in a correlated body select top-k PER DRIVING
      // ROW — one window keyed on the synthetic row id (non-aggregating
      // form only; an aggregate returns one row per group anyway).
      // Pinned synthetic row id: both the driving side and the aggregated
      // side of the re-join must see the same generated values. UNION
      // bodies pass the shared frame in so every arm sees the same ids.
      val (keyed, rowVar) = keyedOpt.getOrElse {
        val rv = freshVar()
        val rs = ValueSlot(rv)
        (Ctx(
          Pin(ctx0.df.withColumn(RecordHeader.colName(rs),
            monotonically_increasing_id())),
          ctx0.header.withSlot(rs).withVar(rv, ValueKind)), rv)
      }
      val rowSlot = ValueSlot(rowVar)
      // Body input: the row id plus the IMPORTED vars only (openCypher
      // scoping — the body cannot see other outer bindings). The body's
      // result re-joins to the full outer frame on the row id at the end.
      val bodySlots = keyed.header.slots.filter { case (s, _) =>
        s.owner == rowVar || imports.contains(s.owner) }
      var sub = Ctx(
        keyed.df.select(bodySlots.values.toSeq.distinct.map(col): _*),
        RecordHeader(bodySlots, keyed.header.kinds.filter { case (v, _) =>
          v == rowVar || imports.contains(v) }))
      clauses.foreach {
        case m: Match => sub = planReadingClause(sub, m)
        case u: Unwind => sub = planReadingClause(sub, u)
        // Write clauses run per driving row (the body IS the keyed
        // driving frame); the caller refreshes stale outer bindings.
        case c if isWriteClause(c) =>
          sub = planWriteClause(sub, c); graph = buildWrittenGraph()
        // Nested CALL { }: recurse — the inner subquery correlates against
        // THIS body's frame (row id + imports), so its own importing WITH
        // may re-import the outer imports; its result re-joins on the
        // inner row id and the outer correlation key flows through.
        case cs: CallSubquery =>
          sub = planCallSubquery(sub, cs.inner, cs.optional)
        // Intermediate WITH: append the row id to the projection so an
        // aggregating WITH groups PER DRIVING ROW and a plain/DISTINCT
        // WITH keeps the correlation key. SKIP/LIMIT select per driving
        // row via a window on the row id (ORDER BY must then reference
        // projected items — the pre-projection scope is gone once the
        // window applies).
        case w: With =>
          if (w.skip.isEmpty && w.limit.isEmpty)
            sub = planProjection(sub, w.distinct, w.star,
              w.items :+ ReturnItem(Var(rowVar), None),
              w.orderBy, None, None, w.where)._1
          else {
            val proj = planProjection(sub, w.distinct, w.star,
              w.items :+ ReturnItem(Var(rowVar), None),
              Seq.empty, None, None, w.where)._1
            sub = perRowOrderSkipLimit(proj,
              proj.header.col(ValueSlot(rowVar)), w.orderBy, w.skip, w.limit,
              projExprAliases(w.items))
          }
        case other => unsupported(
          s"clause ${other.getClass.getSimpleName} in a correlated subquery")
      }
      // RETURN * in a correlated body exports the body-local variables —
      // imports are excluded (they are already bound outside, so including
      // them would make * always clash; documented in tck_blacklist.md).
      val retItems =
        if (!ret.star) ret.items
        else {
          val starVars = sub.header.kinds.keys.toSeq.sorted
            .filterNot(_.startsWith("_a")).filterNot(imports.contains)
          if (starVars.isEmpty && ret.items.isEmpty) throw new CypherCompileException(
            "CALL { } RETURN * with no body-local variables in scope",
            CE.SyntaxError, CE.InvalidSyntax)
          starVars.map(v => ReturnItem(Var(v), None)) ++ ret.items
        }
      val ret2 = ret.copy(items = retItems)
      val aggregating = retItems.exists(i => sub.compiler.hasAggregation(i.expr))
      if (aggregating) {
        val items2 = ReturnItem(Var(rowVar), None) +: retItems
        val (agg0, _) = planProjection(sub, distinct = false, star = false,
          items2, Seq.empty, None, None, None)
        checkClash(agg0.header.kinds.keys.filterNot(_ == rowVar))
        // ORDER BY/SKIP/LIMIT on an aggregating body page through the
        // per-driving-row GROUPS (meaningful when the body has grouping
        // keys; a global aggregate has one row per driving row anyway).
        val agg = perRowOrderSkipLimit(agg0,
          agg0.header.col(ValueSlot(rowVar)), ret2.orderBy, ret2.skip,
          ret2.limit, projExprAliases(retItems))
        val aggKey = agg.header.col(ValueSlot(rowVar))
        val outerKey = keyed.header.col(rowSlot)
        // With grouping keys an empty per-row group yields no subquery rows,
        // so the driving row drops (inner); a global aggregate always yields
        // one row — empty groups surface as nulls (left + count/sum zeros).
        val grouped = retItems.exists(i => !sub.compiler.hasAggregation(i.expr))
        // Rename the agg side's key so the equi-join condition is unambiguous.
        val aggDf = agg.df.withColumnRenamed(aggKey, "_cs_k")
        var df = keyed.df.join(aggDf, col(outerKey) === col("_cs_k"),
          if (grouped && !optional) "inner" else "left")
          .drop("_cs_k")
        // Aggregates over an empty per-row group: count/sum read 0.
        retItems.foreach { i =>
          val zeroish = i.expr match {
            case CountStar => true
            case FuncCall(n, _, _) => n == "count" || n == "sum"
            case _ => false
          }
          if (zeroish) {
            val target = i.alias.getOrElse(Pretty.print(i.expr))
            val cName = agg.header.col(ValueSlot(target))
            df = df.withColumn(cName, F.coalesce(col(cName), lit(0L)))
          }
        }
        val outHeader = RecordHeader(
          agg.header.slots.filterNot(_._1.owner == rowVar),
          agg.header.kinds - rowVar)
        if (keyedOpt.isDefined) Ctx(df, keyed.header ++ outHeader)
        else Ctx(df.drop(keyed.header.col(rowSlot)), ctx0.header ++ outHeader)
      } else {
        // Row-multiplying subquery: project the RETURN items per body row,
        // then re-join the (row id, items) frame onto the outer rows —
        // driving rows with no body rows drop out (CALL{} semantics).
        var df = sub.df
        var newHeader = RecordHeader.empty
        retItems.foreach { i =>
          val display = i.alias.getOrElse(Pretty.print(i.expr))
          i.expr match {
            case Var(n) if sub.header.kinds.contains(n) &&
                sub.header.kindOf(n) != Some(ValueKind) =>
              checkClash(Seq(display))
              val (renamed, renames) = RecordHeader(
                sub.header.slots.filter(_._1.owner == n),
                Map(n -> sub.header.kinds(n))).renameVar(n, display)
              renames.foreach { case (from, to) =>
                df = df.withColumn(to, col(from))
              }
              newHeader = newHeader ++ renamed
            case expr =>
              checkClash(Seq(display))
              val slot = ValueSlot(display)
              df = df.withColumn(RecordHeader.colName(slot),
                sub.compiler.compile(expr))
              newHeader = newHeader.withSlot(slot).withVar(display, ValueKind)
          }
        }
        if (ret.orderBy.nonEmpty || ret.skip.nonEmpty || ret.limit.nonEmpty) {
          // Top-k per driving row: row_number over a window on the row id.
          val sortCols = ret.orderBy.map { s =>
            val c = s.expr match {
              case Var(n) if newHeader.contains(ValueSlot(n)) =>
                col(newHeader.col(ValueSlot(n)))
              case e => sub.compiler.compile(e)
            }
            if (s.ascending) c.asc_nulls_last else c.desc_nulls_first
          }
          val w = org.apache.spark.sql.expressions.Window
            .partitionBy(col(keyed.header.col(rowSlot)))
            .orderBy((if (sortCols.nonEmpty) sortCols
              else Seq(lit(1))): _*) // LIMIT without ORDER BY: arbitrary k
          val lo = ret.skip.map(e => evalInt(e, "SKIP")).getOrElse(0)
          val hi = ret.limit.map(e => evalInt(e, "LIMIT"))
          df = df.withColumn("_cs_rn", row_number().over(w))
            .filter(col("_cs_rn") > lo &&
              hi.map(h => col("_cs_rn") <= lo + h).getOrElse(lit(true)))
            .drop("_cs_rn")
        }
        val rowCol = keyed.header.col(rowSlot)
        df = df.select((rowCol +: newHeader.slots.values.toSeq).distinct.map(col): _*)
        if (ret.distinct) df = df.dropDuplicates()
        val joined = keyed.df
          .join(df.withColumnRenamed(rowCol, "_cs_k"),
            col(rowCol) === col("_cs_k"),
            // OPTIONAL CALL { }: driving rows with no body rows keep one
            // all-null result row instead of dropping.
            if (optional) "left" else "inner")
          .drop("_cs_k")
        if (keyedOpt.isDefined) Ctx(joined, keyed.header ++ newHeader)
        else Ctx(joined.drop(rowCol), ctx0.header ++ newHeader)
      }
    }
  }

  // ---------------------------------------------------------------- writes
  // Beyond-reference surface: the reference engine is read-only (CONSTRUCT
  // builds graphs, never mutates one). graft's CREATE/SET/REMOVE/DELETE/
  // MERGE produce a NEW immutable PropertyGraph from the ambient one —
  // the session's update() returns it. Execution model: reading clauses
  // plan as usual; write clauses then transform a canonical copy of the
  // graph's scan tables (all lazy DataFrames; one-hash-shuffle-free updates
  // are plain id-keyed left joins, so at 100 TB each SET is one join keyed
  // on the already-partitioned id column). Reading clauses may not follow a
  // write clause (documented scope; WITH/RETURN may).

  /** Canonical write-state tables: `_id` + `p_*` (nodes), `_id/_src/_tgt` +
    * `p_*` (rels). */
  private case class WNode(labels: Set[String], df: DataFrame,
      propTypes: Map[String, DataType])
  private case class WRel(relType: String, df: DataFrame,
      propTypes: Map[String, DataType])

  private var wNodes: Seq[WNode] = Seq.empty
  private var wRels: Seq[WRel] = Seq.empty
  private var writeBegun = false
  /** Set when the query contains write clauses: the post-write graph. */
  var updatedGraph: Option[PropertyGraph] = None

  private def beginWrites(): Unit = if (!writeBegun) {
    writeBegun = true
    wNodes = graph.nodeTables.map(t => WNode(t.labels, t.df, t.propTypes))
    wRels = graph.relTables.map { t =>
      val cols = Seq(ID, SRC, TGT) ++ t.propTypes.keys.toSeq.sorted.map(propCol)
      WRel(t.relType, t.df.select(cols.map(col): _*), t.propTypes)
    }
  }

  def requireNoWrites(what: String): Unit = if (writeBegun)
    throw new CypherCompileException(
      s"$what after a write clause is not supported (run reads on the " +
        "updated graph returned by update())",
      CE.SyntaxError, CE.InvalidSyntax)

  private[impl] def buildWrittenGraph(): PropertyGraph = {
    val nodeDefs = wNodes.map { t =>
      NodeTableDef(t.labels, t.df, ID,
        t.propTypes.keys.map(k => k -> propCol(k)).toMap, "!written")
    }
    val relDefs = wRels.map { t =>
      RelTableDef(t.relType, t.df, ID, SRC, TGT,
        t.propTypes.keys.map(k => k -> propCol(k)).toMap,
        "!written", "!written", "!written")
    }
    PropertyGraph(nodeDefs, relDefs)
  }

  /** Fresh element ids for write clauses and CONSTRUCT, unique against
    * every source id space and every earlier write or CONSTRUCT:
    * [8b tag=233][8b generation][5b var][12b partition][31b row].
    * One generation is allocated per write query (JVM-wide counter); the
    * partition/row fields come from monotonically_increasing_id's layout,
    * so the frame feeding a CREATE must stay under 2^12 partitions and
    * 2^31 rows per partition (plenty after any shuffle; a raw 100 TB scan
    * feeding CREATE directly should be repartitioned first). The id frame
    * is pinned so the nondeterministic generator evaluates exactly once
    * (same hazard planConstruct documents). */
  private def freshWriteId(gen: Int, varIdx: Int): Column = {
    val m = monotonically_increasing_id()
    val part = shiftright(m, 33)
    val row = m.bitwiseAND(lit((1L << 33) - 1))
    shiftleft(lit(233L), 56)
      .bitwiseOR(shiftleft(lit(gen.toLong), 48))
      .bitwiseOR(shiftleft(lit(varIdx.toLong), 43))
      .bitwiseOR(shiftleft(part, 31))
      .bitwiseOR(row)
  }

  private lazy val writeGen: Int = {
    val g = Planner.writeGenerations.getAndIncrement()
    if (g > 255) throw new CypherCompileException(
      "write-generation limit (256 per JVM) exceeded; store the graph " +
        "with FsGraphSource and reload to reset the id space",
      CE.SemanticError, CE.UnsupportedExpression)
    g
  }
  private var writeVarIdx = 0
  private def nextWriteVarIdx(): Int = {
    writeVarIdx += 1
    if (writeVarIdx > 31) throw new CypherCompileException(
      "too many created variables in one write query (max 31)",
      CE.SemanticError, CE.UnsupportedExpression)
    writeVarIdx
  }

  /** CREATE pattern: one new element per driving row per unbound var;
    * bound vars may only appear as bare endpoints. */
  /** Label EXPRESSIONS describe a match, not a concrete label set —
    * Neo4j rejects them in writing clauses; without this, CREATE (n:A|B)
    * would silently make an unlabeled node and MERGE (n:A|B) would match
    * everything. */
  private def rejectLabelExprs(parts: Seq[PatternPart], clause: String): Unit =
    parts.foreach { part =>
      (part.head +: part.tail.map(_._2)).foreach { np =>
        if (np.labelExpr.nonEmpty) throw new CypherCompileException(
          s"label expressions are not allowed in $clause",
          CE.SyntaxError, CE.InvalidArgumentType)
      }
    }

  /** Fold plan-time-known dynamic labels/types in a WRITE pattern
    * (CREATE/MERGE accept `:$(literal-or-parameter)`, Neo4j 5.26 dynamic
    * writes — same stance as SET/REMOVE's dynamic keys: compile-time
    * strings only, since the columnar write plan fixes its label/type
    * set). A row-dependent dynamic term is classified unsupported; a
    * non-dynamic label EXPRESSION falls through to rejectLabelExprs. */
  private def foldWriteDynPattern(parts: Seq[PatternPart],
      clause: String): Seq[PatternPart] = {
    def conj(e: LabelExpr): Option[Seq[String]] = e match {
      case LabelAtom(n) => Some(Seq(n))
      case LabelAnd(a, b) => for (x <- conj(a); y <- conj(b)) yield x ++ y
      case _ => None
    }
    def foldN(np: NodePattern): NodePattern = np.labelExpr match {
      case Some(le) =>
        val f = foldDynLabels(le)
        conj(f) match {
          case Some(atoms) =>
            np.copy(labels = (np.labels ++ atoms).distinct, labelExpr = None)
          case None if hasDynLabel(f) => throw new CypherCompileException(
            s"dynamic labels in $clause must be string literals or " +
              "parameters (known at plan time)",
            CE.SyntaxError, CE.UnsupportedExpression)
          case None => np
        }
      case None => np
    }
    def foldR(rp: RelPattern): RelPattern = rp.dynType match {
      case Some((false, e)) => planTimeStrings(e) match {
        case Some(ss) => rp.copy(types = (rp.types ++ ss).distinct,
          dynType = None)
        case None => throw new CypherCompileException(
          s"dynamic relationship types in $clause must be string literals " +
            "or parameters (known at plan time)",
          CE.SyntaxError, CE.UnsupportedExpression)
      }
      case Some((true, _)) => throw new CypherCompileException(
        s"a negated dynamic relationship type cannot be used in $clause",
        CE.SyntaxError, CE.InvalidArgumentType)
      case None => rp
    }
    parts.map { part =>
      part.copy(head = foldN(part.head),
        tail = part.tail.map { case (rp, np) => (foldR(rp), foldN(np)) })
    }
  }

  private def planCreate(ctx0: Ctx, pattern0: Pattern): Ctx = {
    val pattern = Pattern(foldWriteDynPattern(pattern0.parts, "CREATE"))
    rejectLabelExprs(pattern.parts, "CREATE")
    beginWrites()
    val (nodes, edges) = normalizePattern(pattern)
    var ctx = ctx0
    var df = ctx.df
    var header = ctx.header
    def compiler() =
      new ExprCompiler(header, df.schema, params, Map.empty, extensions)
    // New node vars: fresh id + evaluated props + static labels.
    val newNodeVars = nodes.values.toSeq.sortBy(_.v)
      .filterNot(nc => header.kinds.contains(nc.v))
    val boundNodeVars = nodes.values.toSeq
      .filter(nc => header.kinds.contains(nc.v))
    boundNodeVars.foreach { nc =>
      if (nc.labels.nonEmpty || nc.props.nonEmpty)
        throw new CypherCompileException(
          s"CREATE cannot add labels or properties to bound variable ${nc.v}",
        CE.SyntaxError, CE.VariableAlreadyBound)
    }
    newNodeVars.foreach { nc =>
      val idSlot = IdSlot(nc.v)
      df = df.withColumn(RecordHeader.colName(idSlot),
        freshWriteId(writeGen, nextWriteVarIdx()))
      header = header.withSlot(idSlot)
        .withVar(nc.v, NodeKind(nc.labels.toSet))
      nc.labels.foreach { l =>
        val s = LabelSlot(nc.v, l)
        df = df.withColumn(RecordHeader.colName(s), lit(true))
        header = header.withSlot(s)
      }
      nc.props.foreach { case (k, e) =>
        val s = PropSlot(nc.v, k)
        df = df.withColumn(RecordHeader.colName(s), compiler().compile(e))
        header = header.withSlot(s)
      }
    }
    edges.foreach { e =>
      if (e.varLength.isDefined) throw new CypherCompileException(
        "CREATE of a variable-length relationship",
        CE.SyntaxError, CE.CreatingVarLength)
      if (e.dir == BOTH) throw new CypherCompileException(
        "CREATE requires a directed relationship",
        CE.SyntaxError, CE.RequiresDirectedRelationship)
      if (e.types.size != 1) throw new CypherCompileException(
        "CREATE requires exactly one relationship type",
        CE.SyntaxError, CE.NoSingleRelationshipType)
      if (ctx0.header.kinds.contains(e.v)) throw new CypherCompileException(
        s"CREATE of already-bound relationship ${e.v}",
        CE.SyntaxError, CE.VariableAlreadyBound)
      val (srcV, tgtV) = if (e.dir == INBOUND) (e.tgt, e.src) else (e.src, e.tgt)
      val idSlot = IdSlot(e.v)
      df = df.withColumn(RecordHeader.colName(idSlot),
        freshWriteId(writeGen, nextWriteVarIdx()))
      val srcSlot = SrcSlot(e.v)
      val tgtSlot = TgtSlot(e.v)
      val typeSlot = TypeSlot(e.v)
      df = df
        .withColumn(RecordHeader.colName(srcSlot),
          col(header.col(IdSlot(srcV))))
        .withColumn(RecordHeader.colName(tgtSlot),
          col(header.col(IdSlot(tgtV))))
        .withColumn(RecordHeader.colName(typeSlot), lit(e.types.head))
      header = header.withSlots(Seq(idSlot, srcSlot, tgtSlot, typeSlot))
        .withVar(e.v, RelKind(e.types.toSet))
      e.props.foreach { case (k, ex) =>
        val s = PropSlot(e.v, k)
        df = df.withColumn(RecordHeader.colName(s), compiler().compile(ex))
        header = header.withSlot(s)
      }
    }
    // Materialize once: the fresh-id generator must not re-evaluate when the
    // frame is both the new scan tables and the continuing driving table.
    val mat = Pin(df)
    newNodeVars.foreach { nc =>
      val props = nc.props.map(_._1)
      val cols = col(header.col(IdSlot(nc.v))).as(ID) +:
        props.map(k => col(header.col(PropSlot(nc.v, k))).as(propCol(k)))
      val types = props.map(k =>
        k -> mat.schema(header.col(PropSlot(nc.v, k))).dataType).toMap
      wNodes :+= WNode(nc.labels.toSet, mat.select(cols: _*), types)
    }
    edges.foreach { e =>
      val props = e.props.map(_._1)
      val cols = Seq(
        col(header.col(IdSlot(e.v))).as(ID),
        col(header.col(SrcSlot(e.v))).as(SRC),
        col(header.col(TgtSlot(e.v))).as(TGT)) ++
        props.map(k => col(header.col(PropSlot(e.v, k))).as(propCol(k)))
      val types = props.map(k =>
        k -> mat.schema(header.col(PropSlot(e.v, k))).dataType).toMap
      wRels :+= WRel(e.types.head, mat.select(cols: _*), types)
    }
    // CREATE p = (...)-[...]->(...): bind the path variable over the
    // freshly created element id columns (all hops are fixed-length here).
    bindPaths(Ctx(mat, header))
  }

  /** An entity-struct VALUE binding (the collect(n)/UNWIND round-trip):
    * the ValueSlot's type follows the flat entity-struct convention. */
  private def entityValueKind(ctx: Ctx, v: String): Option[VarKind] =
    ctx.header.get(ValueSlot(v)).flatMap { c =>
      ctx.df.schema.fields.find(_.name == c).map(_.dataType) match {
        case Some(st: StructType)
            if ExprCompiler.isEntityStructType(st) =>
          Some(if (st.fieldNames.contains("_labels")) NodeKind(Set.empty)
               else RelKind(Set.empty))
        case _ => None
      }
    }

  /** Write clauses may target entity-struct VALUE bindings (Neo4j: SET /
    * DELETE on an unwound collected node works). Materialize the struct's
    * _id as the var's IdSlot column so the id-keyed write machinery
    * applies unchanged; the binding keeps ValueKind (reads stay on the
    * struct — applySetProp/applySetLabels refresh its fields). */
  private def upgradeEntityValueTargets(ctx0: Ctx, vars: Seq[String]): Ctx = {
    var ctx = ctx0
    vars.distinct.foreach { v =>
      if (ctx.header.kindOf(v).contains(ValueKind) &&
          entityValueKind(ctx, v).isDefined &&
          !ctx.header.contains(IdSlot(v))) {
        val vs = col(ctx.header.col(ValueSlot(v)))
        ctx = Ctx(
          ctx.df.withColumn(RecordHeader.colName(IdSlot(v)),
            vs.getField("_id")),
          ctx.header.withSlot(IdSlot(v)))
      }
    }
    ctx
  }

  /** Element-var id column of a write target, with its kind. */
  private def writeTarget(ctx: Ctx, v: String): (String, VarKind) =
    ctx.header.kindOf(v) match {
      case Some(k @ (NodeKind(_) | RelKind(_))) => (ctx.header.col(IdSlot(v)), k)
      case Some(ValueKind) if entityValueKind(ctx, v).isDefined &&
          ctx.header.contains(IdSlot(v)) =>
        (ctx.header.col(IdSlot(v)), entityValueKind(ctx, v).get)
      case Some(_) => throw new CypherCompileException(
        s"$v is not a node or relationship", CE.TypeError, CE.InvalidArgumentType)
      case None => throw new CypherCompileException(
        s"unknown variable $v", CE.SyntaxError, CE.UndefinedVariable)
    }

  /** SET/REMOVE property: id-keyed left-join update onto every table of the
    * element kind (ids are unique across tables, so foreign tables simply
    * never match). `onlyWhen` restricts the driving rows (MERGE's ON CREATE
    * / ON MATCH). */
  private def applySetProp(ctx0: Ctx, v: String, key: String, value: Expr,
      onlyWhen: Option[Column]): Ctx = {
    beginWrites()
    val (idCol, kind) = writeTarget(ctx0, v)
    val compiled = ctx0.compiler.compile(value)
    val rows0 = ctx0.df.filter(col(idCol).isNotNull)
    val rows = onlyWhen.map(rows0.filter).getOrElse(rows0)
    val upd = rows.select(col(idCol).as("_wid"), compiled.as("_wv"))
      .dropDuplicates("_wid") // concurrent same-id rows: one write wins
    val vt = upd.schema("_wv").dataType
    def updateDf(df: DataFrame, hasCol: Boolean): DataFrame = {
      val joined = df.join(upd, col(ID) === col("_wid"), "left")
      val base = if (hasCol) col(propCol(key)) else lit(null).cast(vt)
      joined.withColumn(propCol(key),
        when(col("_wid").isNotNull, col("_wv")).otherwise(base))
        .drop("_wid", "_wv")
    }
    kind match {
      case NodeKind(_) => wNodes = wNodes.map { t =>
        t.copy(df = updateDf(t.df, t.propTypes.contains(key)),
          propTypes = t.propTypes + (key -> vt))
      }
      case _ => wRels = wRels.map { t =>
        t.copy(df = updateDf(t.df, t.propTypes.contains(key)),
          propTypes = t.propTypes + (key -> vt))
      }
    }
    // The binding itself also observes the new value (RETURN n.p).
    val slot = PropSlot(v, key)
    val cName = RecordHeader.colName(slot)
    val newVal = onlyWhen match {
      case Some(c) =>
        val base = ctx0.header.get(slot).map(col).getOrElse(lit(null).cast(vt))
        when(c, compiled).otherwise(base)
      case None => compiled
    }
    if (ctx0.header.kindOf(v).contains(ValueKind)) {
      // Entity-struct VALUE binding: reads go through the struct, so the
      // written field is refreshed in place. withField both null-propagates
      // (a null struct stays null) and widens the struct type when the key
      // is new — a when/otherwise against the OLD struct would type-clash.
      val vsName = ctx0.header.col(ValueSlot(v))
      val vs = col(vsName)
      val hasField = ctx0.df.schema.fields.find(_.name == vsName)
        .map(_.dataType).exists {
          case st: StructType => st.fieldNames.contains(key)
          case _ => false
        }
      val fieldVal = onlyWhen match {
        case Some(c) =>
          val base = if (hasField) vs.getField(key) else lit(null).cast(vt)
          when(c, compiled).otherwise(base)
        case None => compiled
      }
      Ctx(ctx0.df.withColumn(vsName, vs.withField(key, fieldVal)),
        ctx0.header)
    } else
      Ctx(ctx0.df.withColumn(cName, newVal), ctx0.header.withSlot(slot))
  }

  /** SET n:Label / REMOVE n:Label — matched rows migrate between
    * label-combination tables. */
  private def applySetLabels(ctx0: Ctx, v: String, ls: Seq[String],
      remove: Boolean): Ctx = {
    beginWrites()
    val (idCol, kind) = writeTarget(ctx0, v)
    if (!kind.isInstanceOf[NodeKind]) throw new CypherCompileException(
      s"cannot ${if (remove) "remove" else "set"} labels on non-node $v",
      CE.TypeError, CE.InvalidArgumentType)
    val ids = ctx0.df.filter(col(idCol).isNotNull)
      .select(col(idCol).as("_wid")).distinct()
    wNodes = wNodes.flatMap { t =>
      val touched = t.df.join(ids, col(ID) === col("_wid"), "left_semi")
      val untouched = t.df.join(ids, col(ID) === col("_wid"), "left_anti")
      val newLabels =
        if (remove) t.labels -- ls else t.labels ++ ls
      Seq(t.copy(df = untouched), WNode(newLabels, touched, t.propTypes))
    }
    var ctx = ctx0
    if (ctx0.header.kindOf(v).contains(ValueKind)) {
      // Entity-struct VALUE binding: labels(m) reads the struct's _labels
      // — refresh it in place (sorted, deduped).
      val vsName = ctx0.header.col(ValueSlot(v))
      val vs = col(vsName)
      val cur = vs.getField("_labels")
      val next =
        if (remove) ls.foldLeft(cur)((c, l) => array_remove(c, l))
        else array_sort(array_union(cur, array(ls.map(lit(_)): _*)))
      return Ctx(ctx0.df.withColumn(vsName,
          when(vs.isNotNull, vs.withField("_labels", next)).otherwise(vs)),
        ctx0.header)
    }
    if (!remove) ls.foreach { l =>
      val s = LabelSlot(v, l)
      ctx = Ctx(ctx.df.withColumn(RecordHeader.colName(s), lit(true)),
        ctx.header.withSlot(s))
    } else ls.foreach { l =>
      val s = LabelSlot(v, l)
      ctx = Ctx(ctx.df.withColumn(RecordHeader.colName(s), lit(false)),
        ctx.header.withSlot(s))
    }
    ctx
  }

  /** Compile-time resolution of a dynamic SET/REMOVE key or label
    * expression: the columnar schema is fixed at plan time, so only
    * string literals and (string / string-list) parameters qualify —
    * Neo4j's per-row evaluation cannot be expressed. */
  private def constStrings(e: Expr, what: String): Seq[String] = {
    def bad(): Nothing = throw new CypherCompileException(
      s"$what must resolve at compile time — use a string literal or a " +
        s"string parameter, got ${e.getClass.getSimpleName}",
      CE.SemanticError, CE.UnsupportedExpression)
    e match {
      case StrLit(s) => Seq(s)
      case ListLit(items) => items.flatMap(constStrings(_, what))
      case Param(n) => params.get(n) match {
        case Some(s: String) => Seq(s)
        case Some(xs: Seq[_]) => xs.map(String.valueOf)
        case Some(xs: java.util.List[_]) =>
          import scala.jdk.CollectionConverters._
          xs.asScala.toSeq.map(String.valueOf)
        case _ => bad()
      }
      case _ => bad()
    }
  }

  private def resolveSetItem(i: SetItem): SetItem = i match {
    case SetDynProp(v, k, e) =>
      SetProp(v, constStrings(k, "dynamic SET key").head, e)
    case SetDynLabel(v, es) =>
      SetLabel(v, es.flatMap(constStrings(_, "dynamic SET label")))
    case other => other
  }

  private def resolveRemoveItem(i: RemoveItem): RemoveItem = i match {
    case RemoveDynProp(v, k) =>
      RemoveProp(v, constStrings(k, "dynamic REMOVE key").head)
    case RemoveDynLabel(v, es) =>
      RemoveLabel(v, es.flatMap(constStrings(_, "dynamic REMOVE label")))
    case other => other
  }

  private def planSetItems(ctx0: Ctx, items0: Seq[SetItem],
      onlyWhen: Option[Column]): Ctx = {
    val items = items0.map(resolveSetItem)
    var ctx = ctx0
    items.foreach {
      case d @ (_: SetDynProp | _: SetDynLabel) =>
        throw new CypherCompileException(s"unresolved SET item: $d")
      case SetProp(v, k, e) => ctx = applySetProp(ctx, v, k, e, onlyWhen)
      case SetLabel(v, ls) => ctx = applySetLabels(ctx, v, ls, remove = false)
      case SetAllProps(v, m, additive) =>
        beginWrites()
        val entries: Seq[(String, Expr)] = m match {
          case MapLit(es) => es
          case Var(src) if ctx.header.kindOf(src).exists {
              case NodeKind(_) | RelKind(_) => true
              case _ => false
            } =>
            // SET n = m / n += m with an entity source copies its
            // properties (every prop slot the source carries).
            ctx.header.ownedBy(src).collect {
              case PropSlot(_, k) => k -> (Prop(Var(src), k): Expr)
            }.sortBy(_._1)
          case other =>
            // Any struct-typed expression (properties(x), $param maps,
            // map projections, CASE over map literals): the keys are the
            // compile-time struct fields, each value stays per-row.
            // True runtime-keyed maps cannot exist in this typed engine,
            // so anything else stays a classified error.
            val dt = ctx.df.limit(0)
              .select(ctx.compiler.compile(other)).schema.head.dataType
            dt match {
              case st: StructType =>
                st.fieldNames.toSeq.map(k => k -> (Prop(other, k): Expr))
              case _ => throw new CypherCompileException(
                s"SET $v ${if (additive) "+=" else "="} requires a map " +
                  s"with compile-time keys, got ${Pretty.print(other)}",
                CE.SemanticError, CE.UnsupportedExpression)
            }
        }
        if (!additive) {
          // `n = {..}`: clear every property not in the map first.
          val (_, kind) = writeTarget(ctx, v)
          val keep = entries.map(_._1).toSet
          val existing = kind match {
            case NodeKind(_) => wNodes.flatMap(_.propTypes.keys)
            case _ => wRels.flatMap(_.propTypes.keys)
          }
          existing.distinct.filterNot(keep).foreach { k =>
            ctx = applySetProp(ctx, v, k, NullLit, onlyWhen)
          }
        }
        entries.foreach { case (k, e) =>
          ctx = applySetProp(ctx, v, k, e, onlyWhen)
        }
    }
    ctx
  }

  private def patternVars(pat: Pattern): Seq[String] =
    pat.parts.flatMap(p => (p.head +: p.tail.map(_._2)).flatMap(_.variable) ++
      p.tail.map(_._1).flatMap(_.variable))

  private def planWriteClause(ctx: Ctx, w: Clause): Ctx = w match {
    case c: Create =>
      planCreate(upgradeEntityValueTargets(ctx, patternVars(c.pattern)),
        c.pattern)
    case s: SetClause =>
      val targets = s.items.collect {
        case SetProp(v, _, _) => v
        case SetLabel(v, _) => v
        case SetAllProps(v, _, _) => v
        case SetDynProp(v, _, _) => v
        case SetDynLabel(v, _) => v
      }
      planSetItems(upgradeEntityValueTargets(ctx, targets), s.items, None)
    case r: Remove =>
      val targets = r.items.collect {
        case RemoveProp(v, _) => v
        case RemoveLabel(v, _) => v
        case RemoveDynProp(v, _) => v
        case RemoveDynLabel(v, _) => v
      }
      planRemove(upgradeEntityValueTargets(ctx, targets), r.items)
    case d: Delete =>
      val targets = d.exprs.collect { case Var(v) => v }
      planDelete(upgradeEntityValueTargets(ctx, targets), d.exprs, d.detach)
    case m: Merge =>
      planMerge(upgradeEntityValueTargets(ctx,
        patternVars(Pattern(Seq(m.part)))), m)
    case f: Foreach => planForeach(ctx, f)
    case _ => ctx
  }

  /** FOREACH (x IN list | updates): the update clauses run against the
    * driving table exploded by the list (one update row per element; null
    * or empty lists contribute nothing), but the clause itself leaves the
    * driving table untouched — only the graph state changes. */
  private def planForeach(ctx0: Ctx, f: Foreach): Ctx = {
    beginWrites()
    // FOREACH over a literal null: no elements, no updates (explode would
    // reject the VOID-typed literal at analysis).
    if (ctx0.compiler.inferType(f.list).contains(NullType)) return ctx0
    val listC = ctx0.compiler.compile(f.list)
    // An element-id list binds the FOREACH variable as a NODE/REL, so the
    // body may SET/REMOVE/DELETE it — the classic
    // `FOREACH (n IN nodes(p) | SET n.marked = true)` idiom. Recognized
    // shapes: nodes(p)/relationships(p) over a bound path value, and
    // GROUP-list vars from var-length/QPP segments.
    def isPathValue(pv: String): Boolean =
      ctx0.header.get(ValueSlot(pv)).exists { cn =>
        ctx0.df.schema(cn).dataType match {
          case org.apache.spark.sql.types.StructType(fs) =>
            fs.map(_.name).toSeq == Seq("nodes", "rels")
          case _ => false
        }
      }
    val elemKind: Option[VarKind] = f.list match {
      case FuncCall(n, Seq(Var(pv)), _)
          if n.equalsIgnoreCase("nodes") && isPathValue(pv) =>
        Some(NodeKind(Set.empty))
      case FuncCall(n, Seq(Var(pv)), _)
          if n.equalsIgnoreCase("relationships") && isPathValue(pv) =>
        Some(RelKind(Set.empty))
      case Var(lv) => ctx0.header.kindOf(lv) match {
        case Some(ListNodeKind(ls)) => Some(NodeKind(ls))
        case Some(ListRelKind(ts)) => Some(RelKind(ts))
        case _ => None
      }
      case _ => None
    }
    // Literal lists OF ENTITY VARS — incl. the conditional-update idiom
    // `FOREACH (x IN CASE WHEN c THEN [a] ELSE [] END | SET x...)`. An
    // entity var in a list literal compiles to the FULL entity struct
    // (round 12), so these lists explode via their _id field; the
    // detection is syntactic.
    def entityListKind(e: Expr): Option[VarKind] = e match {
      case ListLit(items) if items.nonEmpty =>
        val ks = items.map {
          case Var(v) => ctx0.header.kindOf(v) match {
            case Some(k @ (NodeKind(_) | RelKind(_))) => Some(k)
            case _ => None
          }
          case _ => None
        }
        if (ks.forall(_.isDefined)) {
          val flat = ks.flatten
          if (flat.forall(_.isInstanceOf[NodeKind])) Some(NodeKind(Set.empty))
          else if (flat.forall(_.isInstanceOf[RelKind])) Some(RelKind(Set.empty))
          else None
        } else None
      case CaseExpr(_, alts, default) =>
        // [] / null branches are neutral; every informative branch must
        // agree on the element kind.
        val branches = alts.map(_._2) ++ default.toSeq
        val informative = branches.filterNot(b =>
          b == ListLit(Seq.empty) || b == NullLit)
        val ks = informative.map(entityListKind)
        if (informative.nonEmpty && ks.forall(_.isDefined) &&
            ks.flatten.map(_.getClass).distinct.size == 1) ks.head
        else None
      case _ => None
    }
    val binderKind: Option[VarKind] = elemKind.orElse(entityListKind(f.list))
    // Entity-struct element lists (literal [a] / collected lists) carry
    // the id in the _id field; path/group lists are bare id arrays.
    val idListC =
      if (elemKind.isEmpty && entityListKind(f.list).isDefined)
        transform(listC, x => x.getField("_id"))
      else listC
    val sub0 = binderKind match {
      case Some(kind) =>
        val idSlot = IdSlot(f.variable)
        var subDf = ctx0.df
          .withColumn(RecordHeader.colName(idSlot), explode(idListC))
        var subHeader = ctx0.header.withSlot(idSlot).withVar(f.variable, kind)
        // Join the element's CURRENT stored properties (write state) so
        // body expressions can read them (SET n.x = n.y + 1).
        val tables = kind match {
          case NodeKind(_) => wNodes.map(t => (t.df, t.propTypes))
          case _ => wRels.map(t => (t.df, t.propTypes))
        }
        val propTypes = unifyProps(tables.map(_._2))
        if (propTypes.nonEmpty && tables.nonEmpty) {
          val keys = propTypes.keys.toSeq.sorted
          val frames = tables.map { case (df, pt) =>
            df.select(col(ID).as("_fe_id") +: keys.zipWithIndex.map {
              case (k, i) =>
                (if (pt.contains(k)) col(propCol(k)).cast(propTypes(k))
                 else lit(null).cast(propTypes(k))).as(s"_fe_p$i")
            }: _*)
          }
          subDf = subDf.join(frames.reduce(_.unionByName(_)),
            col(RecordHeader.colName(idSlot)) === col("_fe_id"), "left")
            .drop("_fe_id")
          keys.zipWithIndex.foreach { case (k, i) =>
            val ps = PropSlot(f.variable, k)
            subDf = subDf.withColumnRenamed(s"_fe_p$i",
              RecordHeader.colName(ps))
            subHeader = subHeader.withSlot(ps)
          }
        }
        Ctx(subDf, subHeader)
      case None =>
        val slot = ValueSlot(f.variable)
        Ctx(
          ctx0.df.withColumn(RecordHeader.colName(slot), explode(listC)),
          ctx0.header.withSlot(slot).withVar(f.variable, ValueKind))
    }
    f.updates.foldLeft(sub0)(planWriteClause)
    // Outer variables whose properties the body SET: refresh their bindings
    // from the written state so a later RETURN observes the final value
    // (one id-keyed join per touched (var, key) pair).
    // A SET through an entity BINDER (this FOREACH's variable, or a
    // nested one) can alias ANY outer entity var of its kind — refresh
    // them all, so `FOREACH (x IN [a] | SET x.h = 1) RETURN a.h` reads
    // the written value (kind unknown for nested binders: refresh both
    // kinds, conservative but correct).
    val outerEntityVars: Seq[(String, VarKind)] =
      ctx0.header.kinds.toSeq.collect {
        case (v, k @ (NodeKind(_) | RelKind(_))) => (v, k)
      }
    def sameClass(a: VarKind, b: VarKind): Boolean = (a, b) match {
      case (NodeKind(_), NodeKind(_)) | (RelKind(_), RelKind(_)) => true
      case _ => false
    }
    val touched = writeSetKeys(f.updates).distinct.flatMap { case (v, kOpt) =>
      val targets: Seq[String] =
        if (ctx0.header.kinds.contains(v)) Seq(v)
        else {
          val bk = if (v == f.variable) binderKind else None
          outerEntityVars
            .filter(t => bk.forall(sameClass(t._2, _))).map(_._1)
        }
      targets.flatMap { tv =>
        kOpt match {
          case Some(k) => Seq((tv, k))
          case None => ctx0.header.kindOf(tv) match {
            case Some(NodeKind(_)) =>
              wNodes.flatMap(_.propTypes.keys).distinct.map((tv, _))
            case Some(RelKind(_)) =>
              wRels.flatMap(_.propTypes.keys).distinct.map((tv, _))
            case _ => Seq.empty
          }
        }
      }
    }.distinct
    refreshWrittenProps(ctx0, touched)
  }

  /** Does a clause list (recursively, through FOREACH bodies and nested
    * CALL arms) contain any write clause? */
  private def containsWriteClause(cs: Seq[Clause]): Boolean = cs.exists {
    case _: Create | _: Merge | _: SetClause | _: Remove | _: Delete => true
    case Foreach(_, _, inner) => inner.nonEmpty // FOREACH bodies only write
    case sq: CallSubquery =>
      (sq.inner.first +: sq.inner.rest.map(_._2))
        .exists(a => containsWriteClause(a.clauses))
    case _ => false
  }

  /** (var, key) pairs a clause list may SET; a dynamic-map SET
    * (n += properties(x)) has no syntactic key list — None marks "all
    * keys", expanded by callers to every key the written tables of the
    * var's kind carry (over-approximate but correct). */
  private def writeSetKeys(cs: Seq[Clause]): Seq[(String, Option[String])] =
    cs.flatMap {
      case SetClause(items) => items.map(resolveSetItem).flatMap {
        case SetProp(v, k, _) => Seq((v, Some(k)))
        case SetAllProps(v, MapLit(es), _) =>
          es.map { case (k, _) => (v, Some(k)) }
        case SetAllProps(v, _, _) => Seq((v, None))
        case _ => Seq.empty
      }
      case Merge(_, onCreate, onMatch) =>
        writeSetKeys(Seq(SetClause(onCreate ++ onMatch)))
      case Foreach(_, _, inner) => writeSetKeys(inner)
      case sq: CallSubquery =>
        (sq.inner.first +: sq.inner.rest.map(_._2))
          .flatMap(a => writeSetKeys(a.clauses))
      case _ => Seq.empty
    }

  /** Refresh entity-var property bindings from the CURRENT written state
    * after a nested write scope (FOREACH body, CALL { } body): one
    * id-keyed join per touched (var, key) pair, so a later read of the
    * outer binding observes the final value. */
  private def refreshWrittenProps(ctx0: Ctx,
      touched: Seq[(String, String)]): Ctx = {
    var ctx = ctx0
    touched.distinct.foreach { case (v, k) =>
      ctx.header.kindOf(v) match {
        case Some(kind @ (NodeKind(_) | RelKind(_))) =>
          val tables = kind match {
            case NodeKind(_) =>
              wNodes.filter(_.propTypes.contains(k))
                .map(t => t.df.select(col(ID), col(propCol(k))))
            case _ =>
              wRels.filter(_.propTypes.contains(k))
                .map(t => t.df.select(col(ID), col(propCol(k))))
          }
          tables.reduceOption(_.unionByName(_)).foreach { vals =>
            val slotC = PropSlot(v, k)
            val idCol = ctx.header.col(IdSlot(v))
            val upd = vals.select(col(ID).as("_wf_id"),
              col(propCol(k)).as("_wf_v")).dropDuplicates("_wf_id")
            ctx = Ctx(
              ctx.df.join(upd, col(idCol) === col("_wf_id"), "left")
                .withColumn(RecordHeader.colName(slotC), col("_wf_v"))
                .drop("_wf_id", "_wf_v"),
              ctx.header.withSlot(slotC))
          }
        case _ => ()
      }
    }
    ctx
  }

  private def planRemove(ctx0: Ctx, items: Seq[RemoveItem]): Ctx = {
    var ctx = ctx0
    items.map(resolveRemoveItem).foreach {
      case RemoveProp(v, k) => ctx = applySetProp(ctx, v, k, NullLit, None)
      case RemoveLabel(v, ls) => ctx = applySetLabels(ctx, v, ls, remove = true)
      case other => throw new CypherCompileException(
        s"unresolved REMOVE item: $other")
    }
    ctx
  }

  /** DELETE / DETACH DELETE: anti-join the ids out of the state tables.
    * Plain DELETE of a still-connected node raises at write time (one count
    * job — the TCK's ConstraintValidationFailed / DeleteConnectedNode). */
  private def planDelete(ctx0: Ctx, exprs: Seq[Expr], detach: Boolean): Ctx = {
    beginWrites()
    // A bound PATH variable (the {nodes, rels} struct bindPaths builds) is
    // a legal DELETE target (Neo4j): its relationships and nodes all
    // delete, and because the rel deletions apply before the connected-
    // node check, a plain DELETE p succeeds when the path covers every
    // relationship of its nodes.
    def isPathStruct(v: String): Boolean =
      ctx0.header.get(ValueSlot(v)).exists { cn =>
        ctx0.df.schema(cn).dataType match {
          case st: org.apache.spark.sql.types.StructType =>
            st.fieldNames.toSeq == Seq("nodes", "rels")
          case _ => false
        }
      }
    var relFrames = Seq.empty[DataFrame]
    var nodeFrames = Seq.empty[DataFrame]
    exprs.foreach {
      case Var(v) if ctx0.header.kindOf(v).contains(ValueKind) &&
          isPathStruct(v) =>
        val cn = ctx0.header.col(ValueSlot(v))
        val live = ctx0.df.filter(col(cn).isNotNull)
        relFrames :+= live
          .select(explode(col(cn).getField("rels")).as("_wid"))
        nodeFrames :+= live
          .select(explode(col(cn).getField("nodes")).as("_wid"))
      case Var(v) =>
        val (c, k) = writeTarget(ctx0, v)
        val f = ctx0.df.filter(col(c).isNotNull).select(col(c).as("_wid"))
        if (k.isInstanceOf[RelKind]) relFrames :+= f else nodeFrames :+= f
      case other => throw new CypherCompileException(
        s"DELETE target must be a bound element variable: ${Pretty.print(other)}",
        CE.SemanticError, CE.InvalidDelete)
    }
    def idsOf(fs: Seq[DataFrame]): Option[DataFrame] =
      if (fs.isEmpty) None
      else Some(fs.reduce(_.unionByName(_)).distinct())
    val relIds = idsOf(relFrames)
    val nodeIds = idsOf(nodeFrames)
    relIds.foreach { ids =>
      wRels = wRels.map(t =>
        t.copy(df = t.df.join(ids, col(ID) === col("_wid"), "left_anti")))
    }
    nodeIds.foreach { ids =>
      val pinned = Pin(ids)
      if (detach) {
        wRels = wRels.map { t =>
          val gone = t.df
            .join(pinned, col(SRC) === col("_wid"), "left_anti")
            .join(pinned, col(TGT) === col("_wid"), "left_anti")
          t.copy(df = gone)
        }
      } else {
        // One count job: any remaining rel touching a deleted node?
        val touching = wRels.map(t =>
          t.df.join(pinned,
            col(SRC) === col("_wid") || col(TGT) === col("_wid"), "left_semi"))
        val n = touching.map(_.limit(1).count()).sum
        if (n > 0) throw new graft.api.CypherException(
          CE.ConstraintValidationFailed, CE.Runtime, CE.DeleteConnectedNode,
          "cannot delete a node that still has relationships " +
            "(use DETACH DELETE)")
      }
      wNodes = wNodes.map(t =>
        t.copy(df = t.df.join(pinned, col(ID) === col("_wid"), "left_anti")))
    }
    ctx0
  }

  /** MERGE: single node pattern, or a single relationship whose endpoints
    * are already bound. Matching multiplies rows exactly like MATCH; per
    * distinct unmatched key combination ONE element is created and every
    * unmatched row binds to it (Neo4j's row-sequential MERGE converges to
    * the same state). */
  private def planMerge(ctx0: Ctx, m: Merge): Ctx = {
    val foldedPart = foldWriteDynPattern(Seq(m.part), "MERGE").head
    rejectLabelExprs(Seq(foldedPart), "MERGE")
    beginWrites()
    val (nodes, edges) = normalizePattern(Pattern(Seq(foldedPart)))
    // MERGE p = (...): normalizePattern registered the path bind, but the
    // path-merge branch plans the pattern through an inner OPTIONAL MATCH
    // whose own bindPaths would CONSUME it while the created rows' id
    // columns are still null — the struct would freeze as null forever.
    // Stash the bind and re-register it for the final bindPaths, which
    // runs after created ids are coalesced in.
    val (mergePathBinds, otherBinds) =
      pathBinds.partition(b => foldedPart.pathVar.contains(b.v))
    pathBinds = otherBinds
    val createdMark = "_w_created"
    var ctx = ctx0

    if (edges.isEmpty) {
      val nc = nodes.values.head
      if (ctx.header.kinds.contains(nc.v)) throw new CypherCompileException(
        s"MERGE of already-bound variable ${nc.v}",
        CE.SyntaxError, CE.VariableAlreadyBound)
      val keys = nc.props.map(_._1)
      val keyCols = nc.props.zipWithIndex.map { case ((_, e), i) =>
        val cn = s"_wm_k$i"
        ctx = Ctx(ctx.df.withColumn(cn, ctx.compiler.compile(e)), ctx.header)
        cn
      }
      // Candidates: every node whose labels cover the pattern's. The scan
      // carries the node's FULL property and label sets, not just the
      // merge keys: a MATCHED node must bind complete (RETURN n.other and
      // labels(n) read the stored node, exactly like a MATCH binding) —
      // previously only pattern props/labels were bound and everything
      // else silently read null.
      val candTables = wNodes.filter(t => nc.labels.toSet.subsetOf(t.labels))
      val candProps = unifyProps(candTables.map(_.propTypes))
      val candPropKeys = candProps.keys.toSeq.sorted
      val candLabels = (candTables.flatMap(_.labels).toSet ++ nc.labels)
        .toSeq.sorted
      val cands = candTables
        .map { t =>
          val sel = col(ID).as("_wm_id") +:
            (keys.zipWithIndex.map { case (k, i) =>
              (if (t.propTypes.contains(k)) col(propCol(k)) else lit(null))
                .as(s"_wm_c$i")
            } ++
            candPropKeys.zipWithIndex.map { case (k, i) =>
              (if (t.propTypes.contains(k))
                col(propCol(k)).cast(candProps(k))
              else lit(null).cast(candProps(k))).as(s"_wm_p$i")
            } ++
            candLabels.zipWithIndex.map { case (l, i) =>
              lit(t.labels.contains(l)).as(s"_wm_l$i")
            })
          t.df.select(sel: _*)
        }
        .reduceOption(_.unionByName(_))
      val joined = cands match {
        case Some(c) =>
          val cond = keyCols.zipWithIndex.map { case (kc, i) =>
            col(kc) === col(s"_wm_c$i")
          }.reduceOption(_ && _).getOrElse(lit(true))
          ctx.df.join(c, cond, "left").drop(keys.indices.map(i => s"_wm_c$i"): _*)
        case None =>
          // No candidate table: every row creates. The full-binding
          // columns below still read _wm_p/_wm_l, so provide them null.
          var d = ctx.df.withColumn("_wm_id", lit(null).cast(LongType))
          candPropKeys.zipWithIndex.foreach { case (k, i) =>
            d = d.withColumn(s"_wm_p$i", lit(null).cast(candProps(k)))
          }
          candLabels.indices.foreach { i =>
            d = d.withColumn(s"_wm_l$i", lit(null).cast(BooleanType))
          }
          d
      }
      // One fresh node per distinct unmatched key combination.
      val varIdx = nextWriteVarIdx()
      val unmatched = joined.filter(col("_wm_id").isNull)
      val createdKeys = Pin(unmatched.select(keyCols.map(col): _*).distinct()
        .withColumn("_wm_nid", freshWriteId(writeGen, varIdx)))
      if (keys.nonEmpty) {
        val types = keys.zipWithIndex.map { case (k, i) =>
          k -> createdKeys.schema(s"_wm_k$i").dataType
        }.toMap
        wNodes :+= WNode(nc.labels.toSet,
          createdKeys.select(col("_wm_nid").as(ID) +:
            keys.zipWithIndex.map { case (k, i) =>
              col(s"_wm_k$i").as(propCol(k))
            }: _*),
          types)
      } else {
        wNodes :+= WNode(nc.labels.toSet,
          createdKeys.select(col("_wm_nid").as(ID)), Map.empty)
      }
      val rebound = if (keys.nonEmpty) {
        val cond = keyCols.map(kc => col(kc) <=> col(s"${kc}_c"))
          .reduce(_ && _)
        val renamed = keyCols.foldLeft(createdKeys) { (d, kc) =>
          d.withColumnRenamed(kc, s"${kc}_c")
        }
        joined.join(renamed, cond && col("_wm_id").isNull, "left")
          .drop(keyCols.map(kc => s"${kc}_c"): _*)
      } else {
        joined.join(createdKeys, col("_wm_id").isNull, "left")
      }
      val idSlot = IdSlot(nc.v)
      var df = rebound
        .withColumn(RecordHeader.colName(idSlot),
          coalesce(col("_wm_id"), col("_wm_nid")))
        .withColumn(createdMark, col("_wm_id").isNull)
      var header = ctx.header.withSlot(idSlot)
        .withVar(nc.v, NodeKind(nc.labels.toSet))
      // Full binding (a MATCHED node behaves exactly like a MATCH binding):
      // every label a candidate table carries, from the scan for matched
      // rows and the pattern set for created ones.
      candLabels.zipWithIndex.foreach { case (l, i) =>
        val s = LabelSlot(nc.v, l)
        df = df.withColumn(RecordHeader.colName(s),
          when(col(createdMark), lit(nc.labels.contains(l)))
            .otherwise(coalesce(col(s"_wm_l$i"), lit(false))))
        header = header.withSlot(s)
      }
      // Every property a candidate table carries: stored value for matched
      // rows; for created rows the merge-key value (or null off-key).
      val keyIdx = keys.zipWithIndex.toMap
      candPropKeys.zipWithIndex.foreach { case (k, i) =>
        val s = PropSlot(nc.v, k)
        val onCreate = keyIdx.get(k) match {
          case Some(ki) => col(s"_wm_k$ki").cast(candProps(k))
          case None => lit(null).cast(candProps(k))
        }
        df = df.withColumn(RecordHeader.colName(s),
          when(col(createdMark), onCreate).otherwise(col(s"_wm_p$i")))
        header = header.withSlot(s)
      }
      // Merge keys no candidate table carries (a brand-new property).
      keys.zipWithIndex.filterNot { case (k, _) => candProps.contains(k) }
        .foreach { case (k, ki) =>
          val s = PropSlot(nc.v, k)
          df = df.withColumn(RecordHeader.colName(s),
            when(col(createdMark), col(s"_wm_k$ki")))
          header = header.withSlot(s)
        }
      df = df.drop("_wm_id", "_wm_nid")
        .drop(keyCols: _*)
        .drop(candPropKeys.indices.map(i => s"_wm_p$i"): _*)
        .drop(candLabels.indices.map(i => s"_wm_l$i"): _*)
      ctx = Ctx(df, header)
    } else {
      edges.foreach { e =>
        if (e.types.size != 1) throw new CypherCompileException(
          "MERGE requires exactly one relationship type",
          CE.SyntaxError, CE.NoSingleRelationshipType)
        // Undirected rels are legal in MERGE everywhere (Neo4j): the
        // match side considers both orientations (planOptionalMatch
        // honors dir == BOTH in the path branch; the bound-pair branch
        // unions the flipped candidates) and creation runs left-to-right.
        if (e.varLength.isDefined) throw new CypherCompileException(
          "MERGE of a variable-length relationship",
          CE.SyntaxError, CE.CreatingVarLength)
        if (ctx.header.kinds.contains(e.v)) throw new CypherCompileException(
          s"MERGE of already-bound relationship ${e.v}",
          CE.SyntaxError, CE.VariableAlreadyBound)
      }
      if (edges.map(_.v).distinct.size != edges.size)
        throw new CypherCompileException(
          "MERGE pattern repeats a relationship variable",
          CE.SyntaxError, CE.VariableAlreadyBound)
      val singleBound = edges.size == 1 &&
        ctx.header.kinds.contains(edges.head.src) &&
        ctx.header.kinds.contains(edges.head.tgt)
      if (!singleBound) {
        ctx = planMergePath(ctx, nodes, edges, createdMark)
      } else {
      val e = edges.head
      val (srcV, tgtV) = if (e.dir == INBOUND) (e.tgt, e.src) else (e.src, e.tgt)
      val keys = e.props.map(_._1)
      val keyCols = e.props.zipWithIndex.map { case ((_, ex), i) =>
        val cn = s"_wm_k$i"
        ctx = Ctx(ctx.df.withColumn(cn, ctx.compiler.compile(ex)), ctx.header)
        cn
      }
      val srcCol = col(ctx.header.col(IdSlot(srcV)))
      val tgtCol = col(ctx.header.col(IdSlot(tgtV)))
      // Candidate rels carry their FULL property set: a MATCHED
      // relationship must bind complete (RETURN r.other reads the stored
      // value), exactly like the node-merge branch above.
      val candTables = wRels.filter(_.relType == e.types.head)
      val candProps = unifyProps(candTables.map(_.propTypes))
      val candPropKeys = candProps.keys.toSeq.sorted
      val cands = candTables.map { t =>
        t.df.select(col(ID).as("_wm_id") +: col(SRC).as("_wm_s") +:
          col(TGT).as("_wm_t") +: (keys.zipWithIndex.map { case (k, i) =>
            (if (t.propTypes.contains(k)) col(propCol(k)) else lit(null))
              .as(s"_wm_c$i")
          } ++ candPropKeys.zipWithIndex.map { case (k, i) =>
            (if (t.propTypes.contains(k)) col(propCol(k)).cast(candProps(k))
             else lit(null).cast(candProps(k))).as(s"_wm_p$i")
          }): _*)
      }.reduceOption(_.unionByName(_))
      // Undirected MERGE (bound endpoints): match the stored relationship
      // in EITHER direction; the created one (no match) runs left-to-right
      // (Neo4j). The stored endpoints (_wm_s/_wm_t) are kept so a reversed
      // match binds r's src/tgt as stored, not as written in the pattern.
      val undirected = e.dir == BOTH
      val joined = cands match {
        case Some(c) =>
          val fwd = (srcCol === col("_wm_s")) && (tgtCol === col("_wm_t"))
          val dirCond =
            if (undirected)
              fwd || ((srcCol === col("_wm_t")) && (tgtCol === col("_wm_s")))
            else fwd
          val cond = dirCond &&
            keyCols.zipWithIndex.map { case (kc, i) =>
              col(kc) === col(s"_wm_c$i")
            }.foldLeft(lit(true))(_ && _)
          ctx.df.join(c, cond, "left")
            .drop(keys.indices.map(i => s"_wm_c$i"): _*)
        case None =>
          var d = ctx.df
            .withColumn("_wm_id", lit(null).cast(LongType))
            .withColumn("_wm_s", lit(null).cast(LongType))
            .withColumn("_wm_t", lit(null).cast(LongType))
          candPropKeys.zipWithIndex.foreach { case (k, i) =>
            d = d.withColumn(s"_wm_p$i", lit(null).cast(candProps(k)))
          }
          d
      }
      val varIdx = nextWriteVarIdx()
      val srcName = ctx.header.col(IdSlot(srcV))
      val tgtName = ctx.header.col(IdSlot(tgtV))
      val unmatched = joined.filter(col("_wm_id").isNull)
      val createdKeys = Pin(unmatched
        .select((col(srcName).as("_wm_cs") +: col(tgtName).as("_wm_ct") +:
          keyCols.map(col)): _*).distinct()
        .withColumn("_wm_nid", freshWriteId(writeGen, varIdx)))
      val types = keys.zipWithIndex.map { case (k, i) =>
        k -> createdKeys.schema(s"_wm_k$i").dataType
      }.toMap
      wRels :+= WRel(e.types.head,
        createdKeys.select((col("_wm_nid").as(ID) +: col("_wm_cs").as(SRC) +:
          col("_wm_ct").as(TGT) +: keys.zipWithIndex.map { case (k, i) =>
            col(s"_wm_k$i").as(propCol(k))
          }): _*),
        types)
      val cond = (col(srcName) <=> col("_wm_cs")) &&
        (col(tgtName) <=> col("_wm_ct")) &&
        keyCols.map(kc => col(kc) <=> col(s"${kc}_c"))
          .foldLeft(lit(true))(_ && _)
      val renamed = keyCols.foldLeft(createdKeys) { (d, kc) =>
        d.withColumnRenamed(kc, s"${kc}_c")
      }
      val rebound = joined
        .join(renamed, cond && col("_wm_id").isNull, "left")
        .drop("_wm_cs", "_wm_ct")
        .drop(keyCols.map(kc => s"${kc}_c"): _*)
      val idSlot = IdSlot(e.v)
      var df = rebound
        .withColumn(RecordHeader.colName(idSlot),
          coalesce(col("_wm_id"), col("_wm_nid")))
        .withColumn(createdMark, col("_wm_id").isNull)
        .drop("_wm_id", "_wm_nid")
        .drop(keyCols: _*)
      val srcSlot = SrcSlot(e.v)
      val tgtSlot = TgtSlot(e.v)
      val typeSlot = TypeSlot(e.v)
      df = df
        .withColumn(RecordHeader.colName(srcSlot),
          coalesce(col("_wm_s"), col(srcName)))
        .withColumn(RecordHeader.colName(tgtSlot),
          coalesce(col("_wm_t"), col(tgtName)))
        .withColumn(RecordHeader.colName(typeSlot), lit(e.types.head))
        .drop("_wm_s", "_wm_t")
      var header = ctx.header
        .withSlots(Seq(idSlot, srcSlot, tgtSlot, typeSlot))
        .withVar(e.v, RelKind(e.types.toSet))
      // Full property binding: every prop a candidate table carries reads
      // the stored value on matched rows; created rows take the merge-key
      // value (or null off-key). Key exprs are recompiled per row since
      // they may reference outer variables.
      val keyExpr = e.props.toMap
      def keyVal(k: String): Column =
        new ExprCompiler(header, df.schema, params, Map.empty, extensions)
          .compile(keyExpr(k))
      candPropKeys.zipWithIndex.foreach { case (k, i) =>
        val sl = PropSlot(e.v, k)
        val onCreate =
          if (keyExpr.contains(k)) keyVal(k).cast(candProps(k))
          else lit(null).cast(candProps(k))
        df = df.withColumn(RecordHeader.colName(sl),
          when(col(createdMark), onCreate).otherwise(col(s"_wm_p$i")))
        header = header.withSlot(sl)
      }
      keys.filterNot(candProps.contains).foreach { k =>
        val sl = PropSlot(e.v, k)
        df = df.withColumn(RecordHeader.colName(sl),
          when(col(createdMark), keyVal(k)))
        header = header.withSlot(sl)
      }
      df = df.drop(candPropKeys.indices.map(i => s"_wm_p$i"): _*)
      ctx = Ctx(df, header)
      }
    }

    // ON CREATE / ON MATCH SET against the marked rows; the mark column is
    // dropped afterwards so it never leaks into projections.
    var out = ctx
    if (m.onCreate.nonEmpty)
      out = planSetItems(out, m.onCreate, Some(col(createdMark)))
    if (m.onMatch.nonEmpty)
      out = planSetItems(out, m.onMatch, Some(!col(createdMark)))
    // MERGE p = (...): bind the path variable (fixed-length hops only),
    // deferred past the created-id coalescing (see the stash above).
    pathBinds = pathBinds ++ mergePathBinds
    bindPaths(Ctx(out.df.drop(createdMark), out.header))
  }

  /** MERGE of a (possibly multi-hop) path pattern with any mix of bound
    * and unbound node vars: match the WHOLE pattern as an OPTIONAL MATCH
    * against the current write state; per openCypher all-or-nothing
    * semantics, rows without a full match create the ENTIRE pattern —
    * fresh nodes for every unbound node var (even when a node alone
    * would have matched) plus every relationship — ONE instance per
    * distinct key (bound endpoint ids; unbound-node and rel properties
    * must be literal here, so they never split keys). The optional match
    * multiplies rows exactly like MATCH on full matches, mirroring the
    * bound-endpoint branch. */
  private def planMergePath(ctx0: Ctx, nodes: Map[String, NodeCons],
      edges: Seq[EdgeCons], createdMark: String): Ctx = {
    val patVars = edges.flatMap(e => Seq(e.src, e.tgt)).distinct
    val bound = patVars.filter(ctx0.header.kinds.contains).toSet
    val unbound = patVars.filterNot(bound)
    val outerVars = ctx0.header.kinds.keySet
    val propExprs = unbound.flatMap(v => nodes(v).props.map(_._2)) ++
      edges.flatMap(_.props.map(_._2))
    if (propExprs.exists(ex => exprVars(ex).intersect(outerVars).nonEmpty))
      throw new CypherCompileException(
        "MERGE with an unbound endpoint supports only literal properties " +
          "(row-dependent values cannot correlate the pattern match)",
        CE.SemanticError, CE.UnsupportedExpression)
    // Rebuild the pattern with the EXPLICIT var names from this normalize
    // pass (re-normalizing would mint fresh anonymous names).
    def np(v: String) =
      NodePattern(Some(v), nodes(v).labels, nodes(v).props)
    val part = PatternPart(np(edges.head.src),
      edges.map(e =>
        (RelPattern(Some(e.v), e.types, e.props, e.dir, None), np(e.tgt))))
    // Match against the current write state (prior writes in this query —
    // including earlier FOREACH-body clauses — must be visible).
    graph = buildWrittenGraph()
    val matched = planOptionalMatch(ctx0, Pattern(Seq(part)), None)
    // All-or-nothing: on a partial match the optional pattern nulls every
    // pattern slot together, so any one rel id marks the unmatched rows.
    val relIdCol = matched.header.col(IdSlot(edges.head.v))
    // Evaluate creation columns (all literal) once per row.
    var df = matched.df
    def evalCols(props: Seq[(String, Expr)], tag: String): Seq[(String, String)] =
      props.zipWithIndex.map { case ((k, ex), i) =>
        val cn = s"_wm_$tag$i"
        df = df.withColumn(cn,
          new ExprCompiler(RecordHeader.empty, df.schema, params,
            Map.empty, extensions).compile(ex))
        (k, cn)
      }
    val nodeProps: Map[String, Seq[(String, String)]] =
      unbound.zipWithIndex.map { case (v, i) =>
        v -> evalCols(nodes(v).props, s"n${i}_") }.toMap
    val relProps: Map[String, Seq[(String, String)]] =
      edges.zipWithIndex.map { case (e, i) =>
        e.v -> evalCols(e.props, s"r${i}_") }.toMap
    val boundIdCols =
      patVars.filter(bound).map(v => ctx0.header.col(IdSlot(v))).distinct
    val keyCols = (boundIdCols ++
      unbound.flatMap(v => nodeProps(v).map(_._2)) ++
      edges.flatMap(e => relProps(e.v).map(_._2))).distinct
    // One created pattern instance per distinct unmatched key.
    val unmatched = df.filter(col(relIdCol).isNull)
    var created = unmatched.select(keyCols.map(col): _*).distinct()
    val nodeIdCol: Map[String, String] = unbound.zipWithIndex.map {
      case (v, i) =>
        created = created.withColumn(s"_wm_nid$i",
          freshWriteId(writeGen, nextWriteVarIdx()))
        v -> s"_wm_nid$i"
    }.toMap
    val relIdNew: Map[String, String] = edges.zipWithIndex.map {
      case (e, i) =>
        created = created.withColumn(s"_wm_rid$i",
          freshWriteId(writeGen, nextWriteVarIdx()))
        e.v -> s"_wm_rid$i"
    }.toMap
    created = Pin(created)
    def createdId(v: String): Column =
      if (bound(v)) col(ctx0.header.col(IdSlot(v))) else col(nodeIdCol(v))
    unbound.foreach { v =>
      val props = nodeProps(v)
      wNodes :+= WNode(nodes(v).labels.toSet,
        created.select(col(nodeIdCol(v)).as(ID) +: props.map { case (k, cn) =>
          col(cn).as(propCol(k)) }: _*),
        props.map { case (k, cn) => k -> created.schema(cn).dataType }.toMap)
    }
    edges.foreach { e =>
      val (srcV, tgtV) = if (e.dir == INBOUND) (e.tgt, e.src) else (e.src, e.tgt)
      val props = relProps(e.v)
      wRels :+= WRel(e.types.head,
        created.select(col(relIdNew(e.v)).as(ID) +:
          createdId(srcV).as(SRC) +: createdId(tgtV).as(TGT) +:
          props.map { case (k, cn) => col(cn).as(propCol(k)) }: _*),
        props.map { case (k, cn) => k -> created.schema(cn).dataType }.toMap)
    }
    // Bind created elements back onto the unmatched rows (null-safe key
    // equality; matched rows keep their bindings).
    val renamed = keyCols.foldLeft(created) { (d, kc) =>
      d.withColumnRenamed(kc, kc + "_c") }
    val cond = keyCols.map(kc => col(kc) <=> col(kc + "_c"))
      .foldLeft(col(relIdCol).isNull)(_ && _)
    df = df.join(renamed, cond, "left")
      .drop(keyCols.map(_ + "_c"): _*)
      .withColumn(createdMark, col(relIdCol).isNull)
    var header = matched.header
    def bindCreated(slotCol: String, value: Column): Unit =
      df = df.withColumn(slotCol, coalesce(col(slotCol), value))
    def bindProp(v: String, k: String, cn: String): Unit = {
      val s = PropSlot(v, k)
      header.get(s) match {
        case Some(c) =>
          df = df.withColumn(c,
            when(col(createdMark), col(cn)).otherwise(col(c)))
        case None =>
          df = df.withColumn(RecordHeader.colName(s),
            when(col(createdMark), col(cn)))
          header = header.withSlot(s)
      }
    }
    edges.foreach { e =>
      val (srcV, tgtV) = if (e.dir == INBOUND) (e.tgt, e.src) else (e.src, e.tgt)
      bindCreated(header.col(IdSlot(e.v)), col(relIdNew(e.v)))
      bindCreated(header.col(SrcSlot(e.v)), createdId(srcV))
      bindCreated(header.col(TgtSlot(e.v)), createdId(tgtV))
      bindCreated(header.col(TypeSlot(e.v)), lit(e.types.head))
      relProps(e.v).foreach { case (k, cn) => bindProp(e.v, k, cn) }
    }
    unbound.foreach { v =>
      bindCreated(header.col(IdSlot(v)), col(nodeIdCol(v)))
      // Created rows: pattern labels true, other scanned labels false.
      header.ownedBy(v).collect { case s @ LabelSlot(_, l) => (s, l) }
        .foreach { case (s, l) =>
          df = df.withColumn(header.col(s),
            when(col(createdMark), lit(nodes(v).labels.contains(l)))
              .otherwise(col(header.col(s))))
        }
      nodeProps(v).foreach { case (k, cn) => bindProp(v, k, cn) }
    }
    val temps = (nodeIdCol.values ++ relIdNew.values).toSeq ++
      (nodeProps.values.flatten ++ relProps.values.flatten).map(_._2).toSeq
    Ctx(df.drop(temps.distinct: _*), header)
  }

  /** ORDER BY may repeat a projected expression (ORDER BY count(*)); map it
    * to the computed output column (planProjection's aliasMap convention). */
  private def projExprAliases(items: Seq[ReturnItem]): Map[Expr, String] =
    items.collect {
      case ReturnItem(e, alias) if !e.isInstanceOf[Var] =>
        e -> RecordHeader.colName(ValueSlot(alias.getOrElse(Pretty.print(e))))
    }.toMap

  /** Per-driving-row ORDER BY/SKIP/LIMIT inside a correlated CALL { }: a
    * row_number window partitioned on the synthetic row id replaces the
    * global sort+offset+limit. ORDER BY alone is a no-op (row order cannot
    * survive the re-join), so the window only materializes for SKIP/LIMIT. */
  private def perRowOrderSkipLimit(ctx: Ctx, rowCol: String,
      orderBy: Seq[SortItem], skip: Option[Expr], limit: Option[Expr],
      exprAliases: Map[Expr, String]): Ctx = {
    if (skip.isEmpty && limit.isEmpty) return ctx
    val sortCols = orderBy.map { s =>
      val c = exprAliases.get(s.expr).map(col)
        .getOrElse(ctx.compiler.compile(s.expr))
      if (s.ascending) c.asc_nulls_last else c.desc_nulls_first
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(rowCol))
      .orderBy((if (sortCols.nonEmpty) sortCols
        else Seq(lit(1))): _*) // SKIP/LIMIT without ORDER BY: arbitrary rows
    val lo = skip.map(e => evalInt(e, "SKIP")).getOrElse(0)
    val hi = limit.map(e => evalInt(e, "LIMIT"))
    ctx.copy(df = ctx.df.withColumn("_cs_rn", row_number().over(w))
      .filter(col("_cs_rn") > lo &&
        hi.map(h => col("_cs_rn") <= lo + h).getOrElse(lit(true)))
      .drop("_cs_rn"))
  }

  private def applyOrderSkipLimit(ctx0: Ctx, orderBy: Seq[SortItem],
      skip: Option[Expr], limit: Option[Expr],
      exprAliases: Map[Expr, String] = Map.empty): Ctx = {
    var ctx = ctx0
    if (orderBy.nonEmpty) {
      val cols = orderBy.map { s =>
        // ORDER BY may repeat a projected expression (ORDER BY count(*));
        // resolve it to the already-computed column instead of recompiling
        // the aggregate after the aggregation.
        val c = exprAliases.get(s.expr).map(col)
          .getOrElse(ctx.compiler.compile(s.expr))
        // Neo4j ordering: nulls largest (last on ASC, first on DESC).
        if (s.ascending) c.asc_nulls_last else c.desc_nulls_first
      }
      ctx = ctx.copy(df = ctx.df.orderBy(cols: _*))
    }
    skip.foreach { e => ctx = ctx.copy(df = ctx.df.offset(evalInt(e, "SKIP"))) }
    limit.foreach { e => ctx = ctx.copy(df = ctx.df.limit(evalInt(e, "LIMIT"))) }
    ctx
  }

  /** SKIP/LIMIT operand: a statically-evaluable non-negative integer
    * (TCK taxonomy: a float is InvalidArgumentType, a negative is
    * NegativeIntegerArgument — both SyntaxError at compile time). */
  private def evalInt(e: Expr, where: String): Int = {
    def eval(e: Expr): Int = e match {
      case IntLit(v) => v.toInt
      case Param(n) => params.getOrElse(n, throw new CypherCompileException(
        s"missing parameter $n", CE.ParameterMissing, CE.MissingParameter)) match {
        case i: Int => i
        case l: Long => l.toInt
        case other => throw new CypherCompileException(
          s"$where param not an int: $other",
          CE.SyntaxError, CE.InvalidArgumentType)
      }
      case FloatLit(v) => throw new CypherCompileException(
        s"$where must be an integer, got $v",
        CE.SyntaxError, CE.InvalidArgumentType)
      case Neg(x) => -eval(x)
      // Statically-evaluable arithmetic (the TCK uses forms like `LIMIT 1 + 1`)
      case Arith("+", l, r) => eval(l) + eval(r)
      case Arith("-", l, r) => eval(l) - eval(r)
      case Arith("*", l, r) => eval(l) * eval(r)
      case Arith("/", l, r) => eval(l) / eval(r)
      case Arith("%", l, r) => eval(l) % eval(r)
      case other => throw new CypherCompileException(
        s"$where must be a literal: $other",
        CE.SyntaxError, CE.InvalidArgumentExpression)
    }
    val v = eval(e)
    if (v < 0) throw new CypherCompileException(
      s"$where must be non-negative, got $v",
      CE.SyntaxError, CE.NegativeIntegerArgument)
    v
  }
}

/** Minimal expression pretty-printer for default column names. */
object Pretty {
  def print(e: Expr): String = e match {
    case Var(n) => n
    case Prop(s, k) => print(s) + "." + k
    case Param(n) => "$" + n
    case IntLit(v) => v.toString
    case FloatLit(v) => v.toString
    case StrLit(v) => "'" + v + "'"
    case BoolLit(v) => v.toString
    case NullLit => "null"
    case CountStar => "count(*)"
    case FuncCall(n, args, d) =>
      n + "(" + (if (d) "DISTINCT " else "") + args.map(print).mkString(", ") + ")"
    case Arith(op, l, r) => print(l) + " " + op + " " + print(r)
    case Cmp(op, l, r) => print(l) + " " + op + " " + print(r)
    case Ands(es) => es.map(print).mkString(" AND ")
    case Ors(es) => es.map(print).mkString(" OR ")
    case Not(x) => "NOT " + print(x)
    case Neg(x) => "-" + print(x)
    case IsNull(x, false) => print(x) + " IS NULL"
    case IsNull(x, true) => print(x) + " IS NOT NULL"
    case ListLit(items) => "[" + items.map(print).mkString(", ") + "]"
    case Index(s, i) => print(s) + "[" + print(i) + "]"
    case other => other.getClass.getSimpleName.toLowerCase
  }
}
