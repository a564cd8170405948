package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.execution.{ExternalRDD, LogicalRDD}
import org.apache.spark.sql.internal.SQLConf

/** Scale-conditional redistribution of COMPUTE-AMPLIFIED inputs
  * (guide §2.5 "input skew"): the fuzzy/similarity kernels amplify
  * each input row O(L^k) / O(corpus·queries) INSIDE its task, and a
  * single-file gate-scale input scans as ONE partition — round 13
  * measured whole verify stages serialized into 1-task stages on a
  * 32-core host and added round-robin repartitions of the small
  * pre-amplification rows. Round 14 makes those repartitions
  * SCALE-CONDITIONAL (round-13 verdict item 2): a 100 TB corpus
  * already scans wide, and an unconditional fixed-count repartition
  * there would both pay a pointless extra shuffle and COALESCE the
  * scan down to the session's shuffle-partition count, serializing
  * the very amplification the shuffle was meant to spread.
  *
  * The decision reads the OPTIMIZED LOGICAL PLAN's size statistics —
  * never `df.rdd.getNumPartitions`, which under AQE materializes every
  * upstream shuffle stage eagerly at DataFrame-construction time and
  * throws that work away (round-13 advisor, Similarity.spread):
  *
  *  - estimated size < numShufflePartitions × maxPartitionBytes — the
  *    scan cannot reach full parallelism on its own → repartition;
  *  - estimated size above that bound → the input is already wide
  *    (file scans split at maxPartitionBytes) → NO-OP;
  *  - statistics unknown (a leaf with no size statistics of its own,
  *    e.g. an RDD-backed micro-batch) → repartition, preserving the
  *    round-13 behavior: under-partitioned amplification serializes
  *    O(L^k) work (catastrophic), an extra exchange of un-amplified
  *    rows is linear (bounded).
  *
  * "Unknown" is read from the plan's LEAVES, not from the magnitude of
  * the total: `Superstep.checkpoint` (graph) clamps a large
  * measured estimate to exactly `defaultSizeInBytes`, the value Spark
  * also reports for a leaf it cannot measure, so the total alone cannot
  * tell a huge measured plan from an unmeasured one.
  */
private[graft] object Spread {

  /** True when `plan` would scan with fewer partitions than the
    * session's shuffle parallelism (or its size is unknown). */
  def underPartitioned(plan: LogicalPlan, conf: SQLConf): Boolean =
    plan.collectLeaves().exists(unmeasured(_, conf)) ||
      plan.stats.sizeInBytes <
        BigInt(conf.numShufflePartitions) * conf.filesMaxPartitionBytes

  /** A leaf without size statistics: an RDD-backed leaf that is not a
    * checkpoint (a checkpoint carries the statistics of the plan it
    * materialized, clamped or not), or any other leaf that falls back
    * to the `defaultSizeInBytes` sentinel. */
  private def unmeasured(leaf: LogicalPlan, conf: SQLConf): Boolean = leaf match {
    case r: LogicalRDD => !r.rdd.isCheckpointed
    case _: ExternalRDD[_] => true
    case l => l.stats.sizeInBytes >= BigInt(conf.defaultSizeInBytes)
  }

  /** Round-robin repartition `df` to the session's shuffle parallelism
    * iff [[underPartitioned]]; the explicit count is exempt from AQE
    * coalescing, so the parallelism survives tiny byte sizes. */
  def apply(df: DataFrame): DataFrame = {
    val conf = df.sparkSession.sessionState.conf
    if (underPartitioned(df.queryExecution.optimizedPlan, conf))
      df.repartition(conf.numShufflePartitions)
    else df
  }
}
