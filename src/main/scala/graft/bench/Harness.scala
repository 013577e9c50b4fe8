package graft.bench

import graft.graph.PropertyGraph
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graftx.ListenerBridge
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** What the measuring mains (Bench, Verify, ScaleCheck, PlanDump) share:
  * one session, one graph preparation, one row filter and one execution
  * meter. Each `SPARK_GRAFT_*` variable is read here and nowhere else:
  *
  *  - `SPARK_GRAFT_SF_DIR`: TPC-H parquet directory (default sf0.1);
  *  - `SPARK_GRAFT_CPUS`: local cores and shuffle partitions (default: all
  *    available processors);
  *  - `SPARK_GRAFT_ONLY="a,b"`: run only the named rows (default: all);
  *  - `SPARK_GRAFT_EXTRA_CONF="k=v;k=v"`: session conf overlay, so any
  *    main can measure a config candidate as an A/B before it lands.
  */
object Harness {
  val sfDir: String =
    sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)
  private val only = sys.env.get("SPARK_GRAFT_ONLY")
    .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
  private val MeterTag = "graft-meter-"

  /** Whether the `SPARK_GRAFT_ONLY` filter keeps the row `name`. */
  def selected(name: String): Boolean = only.forall(_.contains(name))

  /** The bench session: local[cpus] with as many shuffle partitions, AQE,
    * UTC, ANSI off, nanosAsLong, no UI, then the extra-conf overlay. */
  def session(): SparkSession = {
    val base = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
    val spark = sys.env.get("SPARK_GRAFT_EXTRA_CONF").toSeq
      .flatMap(_.split(";")).map(_.split("=", 2))
      .collect { case Array(k, v) => (k.trim, v.trim) }
      .foldLeft(base) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One-time preparation before anything is timed: surrogate-id
    * assignment and the persisted lineitem element table of the TPC-H
    * graph, plus the recall-gate ground truth (exact near-dup pairs) that
    * q_dedup_minhash/simhash compare against — shared fixture, not an
    * operator under test. */
  def prepare(spark: SparkSession, sfDir: String): PropertyGraph = {
    val g = graft.tpch.TpchGraph(spark, sfDir)
    g.relTables.last.df.count()
    graft.pipeline.PipelineQueries.warmGates(spark, sfDir)
    g
  }

  /** Execution counters of the jobs one metered call started. */
  final class Counts {
    var jobs, stages, tasks = 0
    var shuffleWrite, shuffleRead, spillMem, spillDisk, peakTaskMem = 0L
  }

  /** Job-tag meter: every job started inside [[Meter.time]] (also from
    * threads it spawns, which inherit the tag) carries one fresh tag, and
    * this listener folds that tag's job, stage and task events into one
    * [[Counts]], read only after the listener bus has drained. */
  final class Meter(spark: SparkSession) extends SparkListener {
    private val sc = spark.sparkContext
    private val seq = new AtomicLong
    private val stageTag = mutable.HashMap.empty[Int, String]
    private val acc = mutable.HashMap.empty[String, Counts]
    sc.addSparkListener(this)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
        .flatMap(_.split(",").find(_.startsWith(MeterTag)))
        .foreach { t =>
          acc.getOrElseUpdate(t, new Counts).jobs += 1
          e.stageIds.foreach(stageTag(_) = t)
        }
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized(stageTag.get(e.stageInfo.stageId).foreach(acc(_).stages += 1))

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      stageTag.get(e.stageId).map(acc).foreach { c =>
        c.tasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spillMem += m.memoryBytesSpilled
          c.spillDisk += m.diskBytesSpilled
          c.peakTaskMem = math.max(c.peakTaskMem, m.peakExecutionMemory)
        }
      }
    }

    /** Runs `f` under a fresh job tag; returns its wall seconds (the
      * drain is not timed) and the counts of every job it started. */
    def time(f: => Any): (Double, Counts) = {
      val tag = MeterTag + seq.incrementAndGet()
      var counts: Counts = null
      sc.addJobTag(tag)
      val t0 = System.nanoTime()
      val sec = try { f; (System.nanoTime() - t0) / 1e9 } finally {
        sc.removeJobTag(tag)
        ListenerBridge.drain(sc)
        counts = synchronized {
          stageTag.filterInPlace((_, t) => t != tag)
          acc.remove(tag).getOrElse(new Counts)
        }
      }
      (sec, counts)
    }
  }
}
