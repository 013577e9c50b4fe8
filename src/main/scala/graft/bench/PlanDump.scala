package graft.bench

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

/** Dump `.explain("formatted")` for named registry queries to files.
  *
  * Usage: runMain graft.bench.PlanDump <outDir> <tag> <query>[,<query>...]
  * Writes <outDir>/<query>_<tag>.txt per query. Session config mirrors
  * graft.Bench so the captured plans are the ones the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "PlanDump <outDir> <tag> <q1>[,<q2>...]")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    Files.createDirectories(outDir)
    // Same one-time prep as Bench/R14Probe (graph ids + recall-gate
    // fixtures), so fixture-dependent queries resolve and the captured
    // plans match the session the bench actually runs (ADVICE r14).
    val g = graft.tpch.TpchGraph(spark, sfDir)
    g.relTables.last.df.count()
    graft.pipeline.PipelineQueries.warmGates(spark, sfDir)
    val reg = graft.SparkEntry.queries
    names.foreach { name =>
      reg.get(name) match {
        case None => System.err.println(s"[plandump] unknown query: $name")
        case Some(fn) =>
          val df = fn(spark, sfDir)
          val text = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(outDir.resolve(s"${name}_$tag.txt"),
            text.getBytes(StandardCharsets.UTF_8))
          System.err.println(s"[plandump] wrote ${name}_$tag.txt " +
            s"(${text.length} chars)")
      }
    }
    spark.stop()
  }
}
