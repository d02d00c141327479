package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Task-retry determinism — the fault-tolerance claim a 1000-executor
  * deployment actually relies on: when a task dies (preemption, OOM
  * kill, straggler re-launch) Spark recomputes its partition from
  * lineage, and the recomputation must yield the SAME result bytes.
  * These tests inject a deterministic first-attempt failure into one
  * partition of a real query (map side and post-shuffle side) under a
  * `local[4, 3]` master (task maxFailures = 3) and pin that the result
  * equals the clean run — i.e. nothing in the plan (hash seeds, decimal
  * sums, orderings) depends on which attempt produced the partition.
  * Owns its session (maxFailures is fixed at context creation) and
  * restores a clean slate, CatalogSpec-style. */
class FaultRetrySpec extends AnyFunSuite {

  /** Identity on longs that throws on the FIRST attempt of EVERY task
    * that evaluates it — attempt 1 (the retry) then succeeds. Failing
    * all partitions (not one chosen id) guarantees the injection fires
    * regardless of how groups hash into partitions. */
  private def flakyId = udf { (x: Long) =>
    val tc = TaskContext.get()
    if (tc != null && tc.attemptNumber() == 0)
      throw new RuntimeException("injected first-attempt failure")
    x
  }

  /** Counts failed-then-retried tasks so the test can prove the
    * injection actually fired (a vacuous pass is otherwise possible). */
  private class FailureTally
      extends org.apache.spark.scheduler.SparkListener {
    val failures = new java.util.concurrent.atomic.AtomicLong
    override def onTaskEnd(
        t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
      t.reason match {
        case _: org.apache.spark.TaskFailedReason => failures.incrementAndGet()
        case _ =>
      }
  }

  test("map-side and reduce-side task retries reproduce the clean result " +
    "bit-for-bit (local[4,3], injected first-attempt failures)") {
    // stop the CONTEXT, not just the thread-local active session:
    // getOrCreate reuses any live SparkContext and silently ignores the
    // master string — mid-suite that left maxFailures at 1 and the
    // injected failure killed the job instead of retrying
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.getDefaultSession.foreach(_.stop())
    org.apache.spark.graftbridge.ListenerBridge.stopActiveContext()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = GraftSession.builder(4)
      .master("local[4, 3]") // 4 threads, maxFailures 3 -> retries live
      .getOrCreate()
    val tally = new FailureTally
    spark.sparkContext.addSparkListener(tally)
    try {
      val sf = "/root/testdata/sf0.001"
      def agg(flaky: Boolean) = {
        val o = Tables.orders(spark, sf).repartition(4)
        val price = if (flaky) flakyId(col("o_orderkey")) else col("o_orderkey")
        o.select(col("o_orderpriority"), price.as("k"), col("o_totalprice"))
          .groupBy("o_orderpriority")
          .agg(Det.dsum(col("o_totalprice")).as("rev"),
            count(col("k")).as("n"))
          .orderBy("o_orderpriority")
          .collect().map(_.toSeq).toSeq
      }
      val mapFlaky = agg(flaky = true)
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilEmpty(spark.sparkContext, 30000)
      val mapFailures = tally.failures.get()
      assert(mapFailures >= 1,
        "injection never fired on the map side — the pin is vacuous")
      assert(mapFlaky == agg(flaky = false),
        "map-side retry changed the aggregate")

      // post-shuffle (reduce-stage) retry: the flaky map runs AFTER the
      // exchange, so the retried task re-reads shuffle blocks
      def reduceSide(flaky: Boolean) = {
        val base = Tables.orders(spark, sf)
          .groupBy("o_orderpriority")
          .agg(count(lit(1)).as("n"))
        val n = if (flaky) flakyId(col("n")) else col("n")
        base.select(col("o_orderpriority"), n.as("n"))
          .orderBy("o_orderpriority")
          .collect().map(_.toSeq).toSeq
      }
      val before = tally.failures.get()
      val redFlaky = reduceSide(flaky = true)
      org.apache.spark.graftbridge.ListenerBridge
        .waitUntilEmpty(spark.sparkContext, 30000)
      assert(tally.failures.get() > before,
        "injection never fired on the reduce side — the pin is vacuous")
      assert(redFlaky == reduceSide(flaky = false),
        "reduce-side retry changed the result")
    } finally {
      spark.sparkContext.removeSparkListener(tally)
      spark.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
  }
}
