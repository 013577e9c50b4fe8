package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import graft.algos.GraphAlgorithms
import graft.api.GraftSession
import graft.graph.{NodeTableDef, PropertyGraph, RelTableDef}
import graft.parser.CypherParser
import graft.tpch.TpchGraph
import java.io.{File, PrintWriter}
import java.util.{List => JList, Map => JMap}
import org.apache.spark.graftbench.{CleanerDrain, ListenerDrain}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Closed-loop benchmark program: one client, one statement at a time.
  *
  * Usage: Main <inputs.json> <outDir>
  *
  * The inputs file (written by run.py from the seed) names the workload,
  * the data, a warm-up list, untimed warm-up decks and the timed decks,
  * which run back to back.
  * With `trace` set, every statement is split into spans around the
  * harness's calls into each layer (GraftSession, the query execution's
  * optimized and physical plans, the final collect, GraphAlgorithms) and
  * its Spark jobs are counted by job tag. The parser's share of a
  * GraftSession call is measured by parsing the same text again after the
  * statement, outside its wall. Results go to `outDir`:
  * out.json (timings), rows.jsonl (result rows per statement) and, when
  * tracing, spans.jsonl and counters.jsonl.
  */
object Main {
  private val mapper = new ObjectMapper()
  private val IdMask = (1L << PropertyGraph.TagBits) - 1

  final case class Stmt(id: Long, tpl: String, kind: String, text: String,
      params: Map[String, Any], reset: Boolean, read: Option[(String, Map[String, Any])],
      algo: String, args: Map[String, Any])

  private def toScala(v: Any): Any = v match {
    case i: java.lang.Integer => i.toLong
    case l: java.lang.Long => l.longValue
    case d: java.lang.Double => d.doubleValue
    case b: java.math.BigInteger => b.longValue
    case s: String => s
    case b: java.lang.Boolean => b.booleanValue
    case l: JList[_] => l.asScala.map(toScala).toList
    case null => null
    case other => throw new IllegalArgumentException(s"unsupported input value: $other")
  }

  private def paramMap(o: Any): Map[String, Any] = o match {
    case m: JMap[_, _] => m.asScala.map { case (k, v) => k.toString -> toScala(v) }.toMap
    case _ => Map.empty
  }

  private def stmt(o: Any): Stmt = {
    val m = o.asInstanceOf[JMap[String, Any]].asScala
    def str(k: String) = m.get(k).map(_.toString).getOrElse("")
    val read = m.get("read").collect { case r: JMap[_, _] =>
      (r.get("text").toString, paramMap(r.get("params")))
    }
    Stmt(m("id").toString.toLong, str("tpl"), str("kind"), str("text"),
      paramMap(m.getOrElse("params", null)),
      m.get("reset").exists(_ == true), read, str("algo"),
      paramMap(m.getOrElse("args", null)))
  }

  /** JSON-friendly rendering of a result cell. */
  private def cell(v: Any): Any = v match {
    case null => null
    case d: Double => if (d.isNaN || d.isInfinite) d.toString else d
    case i: Int => i.toLong
    case l: Long => l
    case b: Boolean => b
    case s: String => s
    case other => other.toString
  }

  def main(args: Array[String]): Unit = {
    val in = mapper.readValue(new File(args(0)), classOf[JMap[String, Any]]).asScala
    val outDir = new File(args(1))
    outDir.mkdirs()
    val workload = in("workload").toString
    val cores = in("cores").toString.toInt
    val seconds = in("seconds").toString.toDouble
    val trace = in("trace").toString.toInt == 1
    val warmup = in("warmup").asInstanceOf[JList[Any]].asScala.map(stmt).toSeq
    val warmDecks = in.get("warm_decks").toSeq.flatMap(_.asInstanceOf[JList[Any]].asScala)
      .map(_.asInstanceOf[JList[Any]].asScala.map(stmt).toSeq)
    val decks = in("decks").asInstanceOf[JList[Any]].asScala
      .map(_.asInstanceOf[JList[Any]].asScala.map(stmt).toSeq).toSeq

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // The status store keeps finished jobs, stages and SQL executions for
      // the (disabled) UI and trims them in chunks; small limits keep that
      // bookkeeping from dominating heap_live_mb.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "10000")
      .config("spark.sql.ui.retainedExecutions", "100")
      .config("spark.local.dir", new File(outDir, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(outDir, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val session = GraftSession(spark)
    val tSession = System.nanoTime()

    val base: PropertyGraph = in.get("tpch_dir") match {
      case Some(dir: String) =>
        val g = TpchGraph(spark, dir)
        g.relTables.last.df.count() // materializes the persisted LineItem ids
        g
      case _ =>
        val n = in("nodes").toString.toLong
        val edges = spark.read.parquet(in("edges").toString)
        PropertyGraph(
          Seq(NodeTableDef(Set("N"), spark.range(n).toDF("id"), "id", Map.empty, "n")),
          Seq(RelTableDef("E", edges, "rid", "src", "dst", Map.empty, "e", "n", "n")))
    }
    val tGraph = System.nanoTime()

    val tracer = new Tracer
    val counters = if (trace) {
      val c = new JobCounters(spark.sparkContext)
      spark.sparkContext.addSparkListener(c)
      Some(c)
    } else None
    var current = base
    val planned = mutable.ArrayBuffer.empty[DataFrame]

    def algoFrame(s: Stmt): DataFrame = s.algo match {
      case "pagerank" =>
        GraphAlgorithms.pageRank(current, iterations = s.args("iterations").asInstanceOf[Long].toInt)
      case "sssp" =>
        val src = s.args("sources").asInstanceOf[List[Long]]
        val ids = spark.range(1).select(org.apache.spark.sql.functions.explode(
          org.apache.spark.sql.functions.typedLit(src.map(v =>
            (current.tags("n") << PropertyGraph.TagBits) | v))).as("id"))
        GraphAlgorithms.sssp(current, ids, Map("E" -> 1.0))
      case "components" => GraphAlgorithms.connectedComponents(current)
      case "triangles" => GraphAlgorithms.triangleCountEdges(GraphAlgorithms.edges(current))
      case "kcore" =>
        GraphAlgorithms.kCoreEdges(GraphAlgorithms.edges(current),
          s.args("k").asInstanceOf[Long].toInt)
      case other => throw new IllegalArgumentException(s"unknown algorithm: $other")
    }

    def api[T](body: => T): T = if (trace) tracer.span("api")(body) else body

    def compile(g: PropertyGraph, text: String, params: Map[String, Any]): DataFrame =
      api(session.cypher(g, text, params))

    def execute(df: DataFrame): Array[Row] = {
      if (trace) {
        tracer.span("catalyst.optimize")(df.queryExecution.optimizedPlan)
        tracer.span("catalyst.physical")(df.queryExecution.executedPlan)
        val rows = tracer.span("exec")(df.collect())
        if (tracer.enabled) planned += df
        rows
      } else df.collect()
    }

    def read(g: PropertyGraph, text: String, params: Map[String, Any]): (Seq[String], Array[Row]) = {
      val df = compile(g, text, params)
      (df.columns.toSeq, execute(df))
    }

    def run(s: Stmt): (Seq[String], Array[Row]) = s.kind match {
      case "query" => read(current, s.text, s.params)
      case "update" | "construct" | "construct_on" =>
        if (s.reset) current = base
        session.store("chain", current)
        current = api {
          if (s.kind == "update") session.update(current, s.text, s.params)
          else session.cypherGraph(current, s.text, s.params)
        }
        val (text, params) = s.read.get
        read(current, text, params)
      case "algo" =>
        val df = if (trace) tracer.span("algos.call")(algoFrame(s)) else algoFrame(s)
        val rows = if (trace) tracer.span("algos.final")(df.collect()) else df.collect()
        // Node ids leave the engine tagged; the checker knows raw ids.
        val isId = df.columns.map(c => c == "id" || c == "component")
        (df.columns.toSeq, rows.map(r => Row.fromSeq(r.toSeq.zip(isId).map {
          case (v: Long, true) => v & IdMask
          case (v, _) => v
        })))
      case other => throw new IllegalArgumentException(s"unknown statement kind: $other")
    }

    val counterOut = if (trace) Some(new PrintWriter(new File(outDir, "counters.jsonl"))) else None
    def writeCounters(s: Stmt, a: JobCounters#Acc): Unit = counterOut.foreach { w =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", s.id); m.put("tpl", s.tpl); m.put("jobs", a.jobs); m.put("stages", a.stages)
      m.put("tasks", a.tasks); m.put("failed_tasks", a.failedTasks); m.put("run_ms", a.runMs)
      m.put("shuffle_write", a.shuffleWrite); m.put("shuffle_read", a.shuffleRead)
      m.put("spill", a.spill); m.put("peak_task_mem", a.peakTaskMem)
      m.put("records_read", a.recordsRead)
      m.put("plans", planned.map(planShape).asJava)
      w.println(mapper.writeValueAsString(m))
    }

    final case class Done(s: Stmt, ms: Double, err: String, cols: Seq[String], rows: Array[Row])

    def timed(s: Stmt, record: Boolean): Done = {
      val tag = JobCounters.Prefix + s.id
      val traced = trace && record
      if (traced) {
        planned.clear()
        spark.sparkContext.addJobTag(tag)
      }
      val start = System.nanoTime()
      val result = try {
        val (c, r) = if (traced) tracer.root(s.id)(run(s)) else run(s)
        Right((c, r))
      } catch { case e: Throwable =>
        Left(Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.take(3).mkString(" "))
      }
      val end = System.nanoTime()
      if (traced) {
        spark.sparkContext.removeJobTag(tag)
        counters.foreach { c => writeCounters(s, c.take(tag)) }
        // Parser time of the texts this statement sent to GraftSession, as
        // spans outside the statement's own.
        if (result.isRight) (Seq(s.text).filter(_ => s.kind != "algo") ++ s.read.map(_._1))
          .foreach(t => tracer.span("parser")(CypherParser.parse(t)))
      }
      result match {
        case Right((c, r)) => Done(s, (end - start) / 1e6, null, c, r)
        case Left(msg) =>
          System.err.println(s"[graftbench] statement ${s.id} (${s.tpl}) failed: $msg")
          if (s.kind != "query") current = base
          Done(s, (end - start) / 1e6, msg, Seq.empty, Array.empty)
      }
    }

    // Warm-up: every statement shape once, untimed (its cost is set-up).
    // Read-only queries warm up on all cores at once; write chains and
    // algorithm calls keep their order.
    tracer.enabled = false
    val warm = if (warmup.forall(_.kind == "query")) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
      implicit val ec: scala.concurrent.ExecutionContext =
        scala.concurrent.ExecutionContext.fromExecutor(pool)
      try scala.concurrent.Await.result(scala.concurrent.Future.traverse(warmup)(s =>
        scala.concurrent.Future(timed(s, record = false))), scala.concurrent.duration.Duration.Inf)
      finally pool.shutdown()
    } else warmup.map { s => val d = timed(s, record = false); current = base; d }
    // Then whole untimed decks, one statement at a time as in the timed
    // loop: the JIT compiles Spark's and graft's hot paths for a minute or
    // more, and the first sequential deck still runs ~1.5x slower.
    val warmed = warm ++ warmDecks.flatMap { deck =>
      current = base
      deck.map(s => timed(s, record = false))
    }
    tracer.enabled = true
    val tWarm = System.nanoTime()

    val done = mutable.ArrayBuffer.empty[Done]
    val diagStart = Diag.snapshot()
    val loopStart = System.nanoTime()
    val hardStop = loopStart + (seconds * 6 * 1e9).toLong
    // Every deck, whatever the speed of the build under test, so two builds
    // are compared on the same work; the hard stop only bounds a runaway.
    for (deck <- decks) {
      current = base
      for (s <- deck if System.nanoTime() < hardStop) done += timed(s, record = true)
    }
    val loopEnd = System.nanoTime()
    val diagEnd = Diag.snapshot()
    counterOut.foreach(_.close())

    val storageMb = spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum / 1048576.0
    ListenerDrain(spark.sparkContext)
    CleanerDrain(spark.sparkContext, timeoutMs = 60000)
    val heapLiveMb = LiveHeap.mb(new File(outDir, "heap_histogram.txt"))
    val rows = new PrintWriter(new File(outDir, "rows.jsonl"))
    done.foreach { d =>
      val m = new java.util.LinkedHashMap[String, Any]()
      m.put("id", d.s.id)
      m.put("cols", d.cols.asJava)
      m.put("rows", d.rows.map(r => r.toSeq.map(cell).asJava).toSeq.asJava)
      rows.println(mapper.writeValueAsString(m))
    }
    rows.close()
    if (trace) {
      val w = new PrintWriter(new File(outDir, "spans.jsonl"))
      tracer.spans.foreach { sp =>
        w.println(mapper.writeValueAsString(Map[String, Any](
          "id" -> sp.id, "parent" -> sp.parent, "name" -> sp.name, "stmt" -> sp.stmt,
          "start_ns" -> (sp.start - t0), "end_ns" -> (sp.end - t0)).asJava))
      }
      w.close()
    }

    val out = new java.util.LinkedHashMap[String, Any]()
    out.put("workload", workload)
    out.put("session_ms", (tSession - t0) / 1e6)
    out.put("graph_build_ms", (tGraph - tSession) / 1e6)
    out.put("warmup_ms", (tWarm - tGraph) / 1e6)
    out.put("warmup_errors", warmed.count(_.err != null))
    // Wall-clock instant of the first timed statement, for run.py's setup_s.
    out.put("first_timed_epoch_ms",
      System.currentTimeMillis() - (System.nanoTime() - loopStart) / 1e6)
    out.put("timed_wall_s", (loopEnd - loopStart) / 1e9)
    // Where the timed loop's wall went besides graft: the JVM's own work
    // and CPU the host gave to others (steal), for explaining slow runs.
    out.put("loop_diag", diagEnd.keys.map(k => k -> (diagEnd(k) - diagStart(k))).toMap.asJava)
    out.put("storage_mb", storageMb)
    out.put("heap_live_mb", heapLiveMb)
    out.put("rss_peak_mb", Rss.peakMb())
    out.put("statements", done.map { d =>
      Map[String, Any]("id" -> d.s.id, "tpl" -> d.s.tpl, "ms" -> d.ms, "err" -> d.err).asJava
    }.asJava)
    val w = new PrintWriter(new File(outDir, "out.json"))
    w.println(mapper.writeValueAsString(out))
    w.close()
    spark.stop()
  }

  /** Size of a plan and its shuffle count, outside any timed span. */
  private def planShape(df: DataFrame): JMap[String, Any] = {
    val qe = df.queryExecution
    val physical: SparkPlan = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.inputPlan
      case p => p
    }
    Map[String, Any](
      "analyzed_nodes" -> qe.analyzed.collect { case n => n }.size,
      "optimized_nodes" -> qe.optimizedPlan.collect { case n => n }.size,
      "exchanges" -> physical.collect { case e: ShuffleExchangeLike => e }.size
    ).asJava
  }
}

final case class Span(id: Int, parent: Int, name: String, stmt: Long, start: Long, end: Long)

/** In-memory spans; written out once the run ends. */
final class Tracer {
  val spans = mutable.ArrayBuffer.empty[Span]
  var enabled = true
  private var stack: List[Int] = Nil
  private var stmt = -1L
  private var next = 0

  def root[T](id: Long)(body: => T): T = { stmt = id; span("stmt")(body) }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = next
    next += 1
    val parent = stack.headOption.getOrElse(-1)
    stack = id :: stack
    val start = System.nanoTime()
    try body
    finally {
      spans += Span(id, parent, name, stmt, start, System.nanoTime())
      stack = stack.tail
    }
  }
}

object LiveHeap {
  /** Size of the objects still reachable (graph, caches, Spark state, the
    * results), summed by a full-collection class histogram, as
    * `jcmd <pid> GC.class_histogram` prints it; the histogram is written to
    * `histogramFile`. The heap's `used` figure is not used: it also counts
    * partly filled regions and varied by ~20% between runs that held the
    * same objects. */
  def mb(histogramFile: File): Double = {
    val text = java.lang.management.ManagementFactory.getPlatformMBeanServer.invoke(
      new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
      "gcClassHistogram", Array[AnyRef](Array.empty[String]),
      Array(classOf[Array[String]].getName)).toString
    val w = new PrintWriter(histogramFile)
    try w.print(text) finally w.close()
    text.linesIterator.filter(_.startsWith("Total")).toSeq.last
      .trim.split("\\s+")(2).toDouble / 1048576.0
  }
}

object Diag {
  /** Cumulative milliseconds: GC pauses and collections, JIT compilation,
    * this process's CPU time and the machine's steal time. */
  def snapshot(): Map[String, Double] = {
    import java.lang.management.ManagementFactory
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val jit = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e6
    val src = scala.io.Source.fromFile("/proc/stat")
    // Field 8 of the "cpu" line is steal, in clock ticks (USER_HZ = 100).
    val steal = try src.getLines().next().trim.split("\\s+")(8).toDouble * 10.0 finally src.close()
    Map("gc_ms" -> gc.toDouble, "jit_ms" -> jit.toDouble, "cpu_ms" -> cpu, "steal_ms" -> steal)
  }
}

object Rss {
  /** VmHWM of this JVM (driver and executors share it in local mode). */
  def peakMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}
