package graft.impl

import org.apache.spark.sql.{Column, DataFrame, Observation, Row}
import org.apache.spark.sql.graftx.PinBridge
import org.apache.spark.storage.StorageLevel

/** Lineage-cut / pinning policy for iterative and shared intermediates
  * (the materialization the reference's InsertCachingOperators performs with
  * `cache()`, okapi-relational/.../RelationalOptimizer.scala:42-93).
  *
  * Local master (tests, bench, single-JVM): `localCheckpoint` — the
  * truncated plan re-reads executor-local blocks, and the blocks are dropped
  * by the ContextCleaner as soon as the DataFrame becomes unreachable, so a
  * long-lived session running many queries does not accumulate cache-manager
  * entries. [[apply]] and [[keyed]] ask for a non-eager checkpoint, but it
  * is not lazy under AQE: building it takes the frame's RDD, and the
  * adaptive plan runs every shuffle and broadcast stage of the frame right
  * then, so a pin of a frame with an exchange runs jobs when it is built;
  * only the final stage waits for the first action that reads the pin.
  * [[round]], the entry point for algorithm loop state, is eager: it runs
  * the final stage too, in one action that also observes the round's
  * scalars.
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
    * `width` if given, else [[width]] of the frame — applies `andThen`
    * (which must be partitioning-preserving: dedup/aggregate on a key
    * superset, filter, non-renaming projection — NEVER a re-keying
    * operation), and pins the result so the planner still SEES the
    * hash(keys) layout afterwards. Every per-round consumer joining on
    * `keys` then skips the re-exchange that a plain
    * `Pin(df.repartition(...))` pays each round — under a plain
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
    // (measured r15: neighborhood_hll 6.3 -> 11.1 s). The algorithm loops
    // also pass their edge pin's width, so loop state and edges co-partition.
    val n = width.getOrElse(this.width(df))
    val shaped = andThen(df.repartition(n,
      keys.map(org.apache.spark.sql.functions.col): _*))
    val pinned =
      if (onCluster(df)) shaped.persist(StorageLevel.MEMORY_AND_DISK)
      else PinBridge.checkpointKeepingHash(shaped, keys, n, eager = false)
    keyedPins.value.foreach(_(pinned, keys))
    pinned
  }

  /** The loop state of one algorithm round, materialized by ONE action
    * that also yields the round's scalars. Contract:
    *
    *  - With `keys`, `df` must already be hash-placed on them at `width`
    *    partitions: `repartition(width, keys)` followed only by
    *    partition-preserving operators (as for [[keyed]]'s `andThen`), or
    *    a join of two such frames on the keys, whose every row lands in
    *    the partition its key hashes to (sssp's full outer join, whose
    *    `id` is coalesce(l.id, r.id)). The pin then claims
    *    `HashPartitioning(keys, width)`, so the next round's joins against
    *    the edge pin and this state, built at the same width, need no
    *    exchange. Without `keys`, nothing is claimed and `width` is unused.
    *  - `scalars` are aggregate expressions over `df`'s rows (a round's
    *    mass, active count or edge count). They are collected through a
    *    Spark [[Observation]] in the pin's own job, so no second job brings
    *    them to the driver. The returned row holds them in order (empty if
    *    none). Scalars of a frame the round only reads (not its output)
    *    use [[observe]] before building `df`.
    *  - Locally the checkpoint is eager: the action runs now, so the
    *    scalars are known when this returns. On a cluster the state is
    *    persisted and one `count()` materializes it.
    *
    * Under AQE the action is one job per query stage of `df`, so a round
    * with one keyed exchange costs two jobs. */
  def round(df: DataFrame, scalars: Seq[Column] = Nil,
      keys: Seq[String] = Nil, width: Int = 0): (DataFrame, Row) = {
    val (observed, values) = observe(df, scalars: _*)
    val state =
      if (onCluster(df)) {
        val p = observed.persist(StorageLevel.MEMORY_AND_DISK)
        p.count()
        p
      } else if (keys.isEmpty) observed.localCheckpoint(eager = true)
      else PinBridge.checkpointKeepingHash(observed, keys, width, eager = true)
    keyedPins.value.filter(_ => keys.nonEmpty).foreach(_(state, keys))
    (state, values())
  }

  /** `df` with `scalars` observed, and the reader of their row. Read it
    * after the action that runs a plan containing the returned frame; it
    * waits for that action's report (see [[PinBridge.observed]]). */
  def observe(df: DataFrame, scalars: Column*): (DataFrame, () => Row) =
    if (scalars.isEmpty) (df, () => Row.empty)
    else {
      val obs = Observation()
      (df.observe(obs, scalars.head, scalars.tail: _*),
        () => PinBridge.observed(obs, df.agg(scalars.head, scalars.tail: _*).head()))
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
  def width(df: DataFrame): Int = {
    val spark = df.sparkSession
    val maxN = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val advisory = PinBridge.advisoryPartitionSize(spark)
    val est = df.queryExecution.optimizedPlan.stats.sizeInBytes
    if (est <= 0 || est > BigInt(Long.MaxValue) / 4) maxN
    else ((est + advisory - 1) / advisory).min(maxN).max(1).toInt
  }

  /** While set, every keyed pin built on this thread is reported with its
    * keys, so a test can check each claim against the rows it covers. */
  private[graft] val keyedPins =
    new scala.util.DynamicVariable[Option[(DataFrame, Seq[String]) => Unit]](None)

  private def onCluster(df: DataFrame): Boolean =
    !df.sparkSession.sparkContext.isLocal
}
