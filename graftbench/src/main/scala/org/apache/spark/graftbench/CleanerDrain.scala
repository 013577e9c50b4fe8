package org.apache.spark.graftbench

import org.apache.spark.{CleanupTaskWeakReference, ContextCleaner, SparkContext}
import scala.jdk.CollectionConverters._

/** Package bridge to the ContextCleaner, whose pending work is private.
  * A full collection clears the weak references of unreachable broadcasts,
  * shuffles and accumulators at once, but the cleaner thread removes their
  * blocks one by one afterwards; memory read before it is done varies from
  * run to run. */
object CleanerDrain {
  /** Collects, then waits until every reference the collection cleared has
    * been cleaned, for at most `timeoutMs`. */
  def apply(sc: SparkContext, timeoutMs: Long): Unit = sc.cleaner.foreach { c =>
    val field = classOf[ContextCleaner].getDeclaredField("referenceBuffer")
    field.setAccessible(true)
    val tracked = field.get(c).asInstanceOf[java.util.Set[CleanupTaskWeakReference]]
    System.gc()
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (tracked.asScala.exists(_.get == null) && System.nanoTime() < deadline) Thread.sleep(10)
  }
}
