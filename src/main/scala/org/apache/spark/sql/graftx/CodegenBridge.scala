package org.apache.spark.sql.graftx

import java.util.concurrent.atomic.AtomicBoolean
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.internal.{SQLConf, StaticSQLConf}
import org.slf4j.LoggerFactory

/** Package-local bridge to Spark's JVM-wide codegen cache.
  *
  * `CodeGenerator` keeps its compiled classes in one LRU cache per JVM. The
  * cache is built once, when `CodeGenerator` is first touched, with the
  * size `spark.sql.codegen.cache.maxEntries` has in `SQLConf.get` on that
  * thread. Its key is (context classloader, code), so every class takes
  * one entry for the driver's loader and one for the executor's. Spark's
  * default of 100 entries holds less than one of graft's working sets
  * (about 400 entries for the interactive deck, 250 for the algorithm
  * rounds), so the cache evicted each class before its next use and every
  * call recompiled its plan.
  *
  * The key is a static SQL conf, which the public `spark.conf.set` refuses;
  * this bridge writes it into the session's SQL conf directly.
  */
object CodegenBridge {
  /** Cache entries graft asks for. It holds both measured working sets
    * with headroom; at about 14 KB of heap per entry it bounds the cache
    * at ~15 MB. Classes with an inlined literal age out first under LRU. */
  val MaxEntries = 1000

  private val log = LoggerFactory.getLogger("graft")
  private val warnedLate = new AtomicBoolean

  /** Sizes the codegen cache to [[MaxEntries]] unless the host chose a
    * size or it is too late to choose one:
    *  - the host set `spark.sql.codegen.cache.maxEntries` in the
    *    SparkContext conf or the session conf: its value is kept;
    *  - the JVM has already compiled a class: the cache was built with
    *    whatever size was current then; nothing changes and one `[graft]`
    *    line per JVM says so;
    *  - otherwise the key goes into the session's SQL conf, and the cache
    *    is built right here under that conf, so its size does not depend
    *    on which thread compiles first.
    * Idempotent: a later call on the same session finds the key set. */
  def sizeCache(spark: SparkSession): Unit = {
    val conf = spark.sessionState.conf
    val key = StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES.key
    if (spark.sparkContext.conf.contains(key) || conf.contains(key)) ()
    else if (compiles > 0) {
      if (warnedLate.compareAndSet(false, true))
        log.warn("[graft] codegen cache left at the size it was built " +
          "with: this JVM compiled a class before the first GraftSession. " +
          s"Set $key on the SparkSession builder to size it " +
          s"(graft asks for $MaxEntries).")
    } else {
      conf.setConf(StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES, MaxEntries)
      SQLConf.withExistingConf(conf)(CodeGenerator.compileTime)
    }
  }

  /** Janino compiles in this JVM so far (every thread, every session). */
  def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Nanoseconds this JVM has spent in Janino compiles so far. */
  def compileNanos: Long = CodeGenerator.compileTime
}
