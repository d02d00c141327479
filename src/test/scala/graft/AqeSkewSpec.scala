package graft

import org.apache.spark.sql.execution.{PartialReducerPartitionSpec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.ShuffledJoin
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Runtime witness for the engine's OTHER skew defense: AQE's skew-join
  * split. The repo handles skew two ways, each with its own evidence:
  *
  *  - EXPLICIT salting (`join_skew_salted`, the dedup BucketCap guard —
  *    DedupSpec's 2048-replica test, BASELINE.md's 10^4-replica run)
  *    where the skew is structural and known ahead of time:
  *    salting reshapes the PLAN, so it also fixes aggregations and
  *    collect_list-style state that AQE cannot touch;
  *  - BUILT-IN `spark.sql.adaptive.skewJoin` for plain shuffled joins
  *    whose skew is only discoverable at runtime: AQE sees the actual
  *    map-output sizes and splits the oversized partition into parallel
  *    reads of sub-ranges, joining each against a replicated other side.
  *
  * This spec pins the second path actually firing: a synthetic hot key
  * concentrates most of the left side into one shuffle partition, and
  * after execution the final adaptive plan must carry a skew-flagged
  * shuffled join whose AQEShuffleRead split that partition into
  * multiple PartialReducerPartitionSpec reads. Thresholds are lowered
  * to test scale (the mechanism is size-ratio-driven, so the witness
  * is the same one a 100 TB hot key would trigger at defaults). */
class AqeSkewSpec extends AnyFunSuite with SparkSuite {

  test("AQE skewJoin splits the hot key's shuffle partition into " +
      "parallel partial reads at runtime") {
    // a DEDICATED sibling session takes the seven conf overrides: it
    // shares the SparkContext but owns its SQLConf, so the shared
    // suite session's runtime conf is never touched — no restore
    // bookkeeping, no mid-flight visibility to other suites, and no
    // getOption-captured default re-set as an explicit value
    val s = spark.newSession()
    Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "262144",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "262144",
      // force a shuffled join: a broadcast join has no reduce-side
      // partitions to skew-split
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1")
      .foreach { case (k, v) => s.conf.set(k, v) }
    // hot key 0: 800k rows land in ONE of the 4 reduce partitions;
    // keys 1..100 spread ~50k rows over the rest (the median the
    // skew factor compares against)
    val left = s.range(800000)
      .select(lit(0L).as("k"), col("id").as("v"))
      .unionAll(s.range(50000)
        .select((col("id") % 100 + 1).as("k"), col("id").as("v")))
    val right = s.range(101)
      .select(col("id").as("k"), (col("id") * 2).as("w"))
    val joined = left.join(right, "k").select(sum(col("v") + col("w")))
    joined.collect() // AQE finalizes only on execution
    val aqe = joined.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a
      case p => fail(s"expected an adaptive plan, got ${p.nodeName}")
    }
    val fin = aqe.finalPhysicalPlan
    // query stages are LEAF nodes wrapping their materialized
    // sub-plan — TreeNode.collect stops at them, so flatten manually
    def flatten(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
      case q: QueryStageExec => flatten(q.plan)
      case _ => p.children.flatMap(flatten)
    })
    val nodes = flatten(fin)
    val joins = nodes.collect { case j: ShuffledJoin => j }
    assert(joins.nonEmpty, s"no shuffled join in final plan:\n$fin")
    assert(joins.exists(_.isSkewJoin),
      s"AQE did not flag the join as skewed:\n$fin")
    // the witness proper: the hot partition became MANY partial reads
    val splitCounts = nodes.collect { case r: AQEShuffleReadExec =>
      r.partitionSpecs.count(_.isInstanceOf[PartialReducerPartitionSpec])
    }
    assert(splitCounts.exists(_ > 1),
      s"no partition was skew-split (partial-read counts per " +
        s"AQEShuffleRead: $splitCounts):\n$fin")
  }
}
