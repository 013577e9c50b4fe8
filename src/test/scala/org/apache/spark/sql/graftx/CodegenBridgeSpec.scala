package org.apache.spark.sql.graftx

import graft.api.GraftSession
import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.TimeUnit
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.sum
import org.apache.spark.sql.internal.StaticSQLConf
import scala.io.Source
import scala.jdk.CollectionConverters._

/** How `GraftSession` sizes Spark's JVM-wide codegen cache. The cache is
  * built once per JVM, so in the shared test JVM whichever suite compiles
  * first decides its size: the fresh-JVM cases run [[CodegenCacheChild]]
  * in a child process on this classpath. */
class CodegenBridgeSpec extends graft.SparkTestBase {
  private val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key

  test("a cache size the host set is kept") {
    val s = spark.newSession()
    s.sessionState.conf.setConfString(key, "123")
    GraftSession(s)
    assert(s.sessionState.conf.getConfString(key) === "123")
  }

  /** Runs the child in `mode`; returns its exit code and output lines. */
  private def child(mode: String): (Int, Seq[String]) = {
    val opens = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(_.startsWith("--add-opens"))
    val cmd = Seq(new File(sys.props("java.home"), "bin/java").getPath) ++
      opens ++ Seq("-Xmx1g", "-cp", sys.props("java.class.path"),
        CodegenCacheChild.getClass.getName.stripSuffix("$"), mode)
    val log = File.createTempFile("codegen-child-", ".log")
    try {
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        .redirectOutput(log).start()
      if (!p.waitFor(5, TimeUnit.MINUTES)) {
        p.destroyForcibly()
        fail(s"child $mode timed out")
      }
      val src = Source.fromFile(log)
      try (p.exitValue, src.getLines().toVector) finally src.close()
    } finally log.delete()
  }

  private def reported(out: Seq[String], name: String): String =
    out.collectFirst { case l if l.startsWith(s"$name=") =>
      l.stripPrefix(s"$name=") }
      .getOrElse(fail(s"no $name line in child output:\n${out.mkString("\n")}"))

  test("fresh JVM: a GraftSession before the first compile holds >100 shapes") {
    val (code, out) = child("sized")
    assert(code === 0, out.mkString("\n"))
    assert(reported(out, "conf") === CodegenBridge.MaxEntries.toString)
    assert(reported(out, "firstPass").toLong > 100)
    assert(reported(out, "secondPass") === "0", out.mkString("\n"))
  }

  test("fresh JVM: after a compile the conf is untouched and one [graft] line says so") {
    val (code, out) = child("late")
    assert(code === 0, out.mkString("\n"))
    assert(reported(out, "conf") === "unset")
    assert(out.count(_.contains("[graft] codegen cache")) === 1,
      out.mkString("\n"))
    // The unsized cache still thrashes, so "sized" above measures the fix.
    assert(reported(out, "secondPass").toLong > 0)
  }
}

/** Child JVM for [[CodegenBridgeSpec]]. `sized`: wraps a new session in a
  * GraftSession before anything compiles. `late`: compiles a class first,
  * then wraps two new sessions. Either way it then runs 120 distinct query
  * shapes twice and prints `conf=`, `firstPass=` and `secondPass=` lines:
  * the session conf's cache size (or `unset`) and each pass's compiles. */
object CodegenCacheChild {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    val wrapped = args(0) match {
      case "sized" => Seq(GraftSession(spark))
      case "late" =>
        spark.range(4).selectExpr("id + 1").collect()
        Seq(GraftSession(spark.newSession()), GraftSession(spark.newSession()))
    }
    val conf = wrapped.head.spark.sessionState.conf
    println("conf=" + (if (conf.contains(key)) conf.getConfString(key) else "unset"))
    // The literal is inlined into the generated class: 120 distinct classes,
    // each held once per classloader (driver and executor).
    def pass(): Long = {
      val c0 = CodegenBridge.compiles
      (1 to 120).foreach { i =>
        spark.range(0, 40, 1, 2).selectExpr(s"id * $i AS x")
          .where(s"x % 7 <> $i").agg(sum("x")).collect()
      }
      CodegenBridge.compiles - c0
    }
    println(s"firstPass=${pass()}")
    println(s"secondPass=${pass()}")
    spark.stop()
  }
}
