package graft.impl

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Lineage-cut / pinning policy for iterative and shared intermediates
  * (the materialization the reference's InsertCachingOperators performs with
  * `cache()`, okapi-relational/.../RelationalOptimizer.scala:42-93).
  *
  * Local master (tests, bench, single-JVM): lazy `localCheckpoint` — the
  * truncated plan re-reads executor-local blocks, and the blocks are dropped
  * by the ContextCleaner as soon as the DataFrame becomes unreachable, so a
  * long-lived session running many queries does not accumulate cache-manager
  * entries.
  *
  * Cluster master: `persist(MEMORY_AND_DISK)` — localCheckpoint blocks live
  * ONLY on the executors that computed them, so losing a single executor
  * (dynamic allocation scale-down, spot preemption, OOM kill) makes the data
  * unrecoverable and fails the whole job. persist keeps lineage, so lost
  * blocks are silently recomputed — the right trade at 1000 executors even
  * though entries sit in the cache manager until evicted.
  *
  * The mode follows the master alone: session-wide `persist` on a local
  * master was measured and rejected (OPTIMIZATION_r15.md).
  */
object Pin {
  def apply(df: DataFrame): DataFrame =
    if (onCluster(df)) df.persist(StorageLevel.MEMORY_AND_DISK)
    else df.localCheckpoint(eager = false)

  /** Pin WITH a retained hash(keys) partitioning (r15, guide §2.4):
    * repartitions `df` to an EXPLICIT partition count (so AQE cannot
    * coalesce the exchange and the layout claim stays exactly true) —
    * `width` if given, else derived from the frame's estimated size (see
    * [[keyedPartitions]]) — applies `andThen` (which must be partitioning-
    * preserving: dedup/aggregate on a key superset, filter, non-renaming
    * projection — NEVER a re-keying operation), and pins the result so the
    * planner still SEES the hash(keys) layout afterwards. Every per-round
    * consumer joining on `keys` then skips the re-exchange that a plain
    * `Pin(df.repartition(...))` pays each round — under lazy
    * localCheckpoint the partitioning metadata is otherwise lost
    * (`UnknownPartitioning(0)`), which r14's "pinned pre-partitioned"
    * comments wrongly assumed survived.
    *
    * persist mode (cluster) needs no bridge: `InMemoryTableScan` reports
    * the cached plan's partitioning as long as
    * `spark.sql.optimizer.canChangeCachedPlanOutputPartitioning` stays at
    * its default false. */
  def keyed(df: DataFrame, keys: Seq[String],
      andThen: DataFrame => DataFrame = identity,
      width: Option[Int] = None): DataFrame = {
    // `width` overrides the size-derived count for frames whose CONSUMERS
    // are compute-bound rather than byte-bound (e.g. the HyperBall sketch
    // merges): there the pin's width sets the loop's parallelism, and
    // byte-derived sizing would starve 32 cores with 2-3 fat partitions
    // (measured r15: neighborhood_hll 6.3 -> 11.1 s).
    val n = width.getOrElse(keyedPartitions(df))
    val shaped = andThen(df.repartition(n,
      keys.map(org.apache.spark.sql.functions.col): _*))
    if (onCluster(df)) shaped.persist(StorageLevel.MEMORY_AND_DISK)
    else org.apache.spark.sql.graftx.PinBridge
      .checkpointKeepingHash(shaped, keys, n)
  }

  /** Scale-adaptive partition count for a keyed pin (guide §2.2): derive
    * from the frame's ESTIMATED size at the session's advisory partition
    * size, clamped to [1, spark.sql.shuffle.partitions]. An explicit
    * repartition is exempt from AQE coalescing (that is what makes the
    * layout claim sound), so a fixed `shuffle.partitions` count would run
    * every downstream round at full task fan-out even when the frame is a
    * few MB — measured r15: betweenness 9.2 → 24.8 s at a fixed 32 on
    * sf0.1 purely from tiny-task scheduling. Deriving n from bytes keeps
    * the local bench at AQE-like counts while a 100 TB frame gets the full
    * configured width. When the estimate is unusable (unknown-size leaves
    * poison the product to ~Long.Max) fall back to shuffle.partitions —
    * the conservative, cluster-correct width. */
  private def keyedPartitions(df: DataFrame): Int = {
    val spark = df.sparkSession
    val maxN = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val advisory = org.apache.spark.sql.graftx.PinBridge
      .advisoryPartitionSize(spark)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0 || est > BigInt(Long.MaxValue) / 4) maxN
    else ((est + advisory - 1) / advisory).min(maxN).max(1).toInt
  }

  private def onCluster(df: DataFrame): Boolean =
    !df.sparkSession.sparkContext.isLocal
}
