package org.apache.spark.sql.graftx

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain,
  Literal, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.internal.SQLConf

/** Package-local bridge to Catalyst's runtime Bloom-filter machinery
  * (guide §3.2). Spark 4.1 ships `BloomFilterAggregate` /
  * `BloomFilterMightContain` as Catalyst expressions for its automatic
  * runtime-filter injection (SPARK-32268) but does NOT register them as SQL
  * functions (`might_contain` resolves to UNRESOLVED_ROUTINE — probed in
  * r14), and the documented manual path (`df.stat.bloomFilter` + a predicate
  * over the collected sketch) needs either a UDF (this repo is zero-UDF) or
  * a multi-MB binary literal that every `explain` would print in full hex.
  *
  * This bridge builds the exact plan fragment Spark's own
  * InjectRuntimeFilter rule produces:
  *
  *   Filter might_contain(scalar-subquery [bloom_filter_agg(xxhash64(k))],
  *                        xxhash64(k'))
  *
  * i.e. the filter is built DISTRIBUTED by an aggregate subquery over the
  * build side and reaches the probe tasks through the scalar-subquery
  * mechanism — no driver-side collect in user code, no literal in the plan
  * text, full whole-stage codegen on the probe side. False positives only
  * cost a little extra shuffle; there are no false negatives, so putting
  * this in front of an (equi-)join leaves the result unchanged.
  *
  * Lives under org.apache.spark.sql so the `private[sql]` Column<->Expression
  * converters are reachable; only public Catalyst classes are used.
  */
object BloomBridge {

  /** Bits for a target false-positive rate (the standard Bloom formula,
    * same as sketch.BloomFilter.optimalNumOfBits). */
  def optimalNumOfBits(expectedItems: Long, fpp: Double): Long =
    math.ceil(-expectedItems * math.log(fpp) /
      (math.log(2) * math.log(2))).toLong.max(64L)

  /** A predicate Column: does a Bloom filter built over `buildKey` of
    * `build` (sized for `expectedItems` items in `numBits` bits) possibly
    * contain `probeKey`? Both key expressions must be LongType — pass
    * `xxhash64(cols...)` on both sides so arbitrary key tuples hash the
    * same way. Both sizes are clamped to the session's
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems` / `maxNumBits`,
    * the caps `BloomFilterAggregate` applies at execution, so the plan
    * shows the size the filter really gets. */
  def mightContain(build: DataFrame, buildKey: Column, probeKey: Column,
      expectedItems: Long, numBits: Long): Column = {
    val conf = build.sparkSession.sessionState.conf
    val agg = ExpressionUtils.column(new BloomFilterAggregate(
      ExpressionUtils.expression(buildKey),
      Literal(expectedItems.min(conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_ITEMS))),
      Literal(numBits.min(conf.getConf(SQLConf.RUNTIME_BLOOM_FILTER_MAX_NUM_BITS))))
      .toAggregateExpression())
    val aggPlan = build.select(agg.as("graft_bloom"))
      .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.analyzed
    ExpressionUtils.column(BloomFilterMightContain(
      ScalarSubquery(aggPlan),
      ExpressionUtils.expression(probeKey)))
  }
}
