package org.apache.spark.sql.graftx

import java.util.concurrent.TimeoutException
import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.classic.Dataset
import org.apache.spark.sql.execution.LogicalRDD
import scala.concurrent.Await
import scala.concurrent.duration._

/** Package-local bridge that makes a `localCheckpoint` keep its TRUE
  * hash partitioning visible to the planner (guide §2.4 — remove shuffles
  * outright).
  *
  * `Dataset.localCheckpoint` wraps the checkpointed RDD in a `LogicalRDD`
  * whose `outputPartitioning` comes out as `UnknownPartitioning(0)` under
  * AQE (the adaptive plan cannot promise a partitioning before execution),
  * so every per-round join against a pinned frame re-exchanges it — the
  * dominant shuffle in the iterative algorithms (measured r15: sssp moved
  * 473 MB for a ~45 MB edge frame, one full re-exchange per round).
  *
  * The data, however, IS hash-placed: when the frame was just produced by
  * `repartition(n, keys)` with an EXPLICIT n (AQE never coalesces an
  * explicitly-sized repartition — shuffle origin REPARTITION_BY_NUM),
  * followed only by partitioning-preserving operators (dedup/aggregate on
  * a key superset, filter, non-renaming project), every row sits in
  * partition `pmod(murmur3(keys), n)` — exactly Spark's
  * `HashPartitioning(keys, n)` contract. This helper re-wraps the
  * checkpointed LogicalRDD with that claim so EnsureRequirements lets
  * co-partitioned consumers skip the exchange.
  *
  * Correctness guards: the claim is refused (falls back to the plain
  * checkpoint, with one `[graft]` line) unless the checkpointed RDD's
  * partition count equals the explicit `n` (or is zero: an empty frame),
  * and the key attributes resolve in the output. A FALSE claim would
  * silently mis-join, so callers must only pass frames shaped as
  * described above (`AlgoRoundsSpec` checks the algorithms' pins row by
  * row); every registry query downstream is hash-checked against the
  * DuckDB oracle, which would catch a violation. The re-wrapped relation
  * keeps the checkpoint's size statistics, so the planner does not read a
  * keyed pin as `spark.sql.defaultSizeInBytes`.
  */
object PinBridge {
  private val log = org.slf4j.LoggerFactory.getLogger("graft")

  /** The session's AQE advisory partition size (bytes) — the same target
    * AQE coalescing aims for; used to size keyed pins from estimated
    * input bytes (guide §2.2). */
  def advisoryPartitionSize(spark: org.apache.spark.sql.SparkSession): Long =
    spark.sessionState.conf.getConf(
      org.apache.spark.sql.internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)

  /** localCheckpoint of `df` (eager: materialized now, by one action;
    * else lazily, by the first action that reads it) re-wrapped with the
    * `HashPartitioning(keys, n)` the frame was physically laid out with.
    * An empty frame meets any hash claim: when AQE planned it to zero
    * partitions, the claim is kept over `n` empty partitions. */
  def checkpointKeepingHash(df: DataFrame, keys: Seq[String], n: Int,
      eager: Boolean = false): DataFrame = {
    val ck = df.localCheckpoint(eager)
      .asInstanceOf[Dataset[org.apache.spark.sql.Row]]
    ck.queryExecution.analyzed match {
      case lr @ LogicalRDD(output, rdd, _, ordering, streaming, stream)
          if (rdd.getNumPartitions == n || rdd.getNumPartitions == 0) &&
            keys.forall(k => output.exists(_.name == k)) =>
        val attrs = keys.map(k => output.find(_.name == k).get)
        val placed = if (rdd.getNumPartitions == n) rdd
          else ck.sparkSession.sparkContext
            .parallelize(Seq.empty[InternalRow], n)
        Dataset.ofRows(ck.sparkSession,
          LogicalRDD(output, placed, HashPartitioning(attrs, n), ordering,
            streaming, stream)(ck.sparkSession, Some(lr.computeStats())))
      case plan =>
        val got = plan match {
          case LogicalRDD(output, rdd, _, _, _, _) =>
            s"${rdd.getNumPartitions} partitions over " +
              output.map(_.name).mkString("[", ", ", "]")
          case other => s"a ${other.nodeName}"
        }
        log.warn(s"[graft] keyed pin claim refused: keys " +
          keys.mkString("[", ", ", "]") + s", expected n = $n, got $got; " +
          "the pin keeps no partitioning and its consumers re-exchange it")
        ck
    }
  }

  /** The row `obs` collected in the action that ran its frame. The
    * observation is reported through the listener bus, a few milliseconds
    * after the action returns; if no report arrives within a minute (a
    * dropped listener event), `fallback` computes the same row by a
    * separate job, and one `[graft]` line says so. */
  def observed(obs: Observation, fallback: => Row): Row =
    try Await.result(obs.future, 1.minute)
    catch {
      case _: TimeoutException =>
        log.warn(s"[graft] observation ${obs.name} was not reported; " +
          "its scalars are recomputed by a separate job")
        fallback
    }
}
