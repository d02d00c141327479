package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The engine's one session conf. Every main, the Hive-catalog facade
  * and the test suites start here; callers add `.enableHiveSupport()`,
  * another master or their own settings through the Builder's API. */
object GraftSession {

  /** The mains' local width: `SPARK_GRAFT_CPUS`, default 4. Tests pass
    * their own width instead, so a box-wide value never reaches them. */
  def mainCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(4)(_.toInt)

  def builder(cpus: Int): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus.toString)
    // Sort-based shuffle writer everywhere (r16): the bypass-merge
    // writer opens ONE FILE PER REDUCE PARTITION per map task —
    // M×R file creations per shuffle — and only ever runs when
    // R ≤ 200, i.e. exactly the local/toy regime; every production
    // shuffle (R > 200) already takes the sort/serialized writer's
    // one-spill-file-per-task path. Forcing it here makes local
    // execution scale-faithful and removes the file-churn floor the
    // in-process stack sampler measured under every small shuffle
    // (guide §2.2: many small blocks).
    .config("spark.shuffle.sort.bypassMergeThreshold", "1")
    // Generated-class cache sized to the workload (r17): the default
    // 100-entry cache thrashes under a 306-query registry — an INFO
    // profile counted 3293 janino compiles (48 s serialized on the
    // executing thread) of which ~960 were EVICTION re-compiles of
    // code the session had already built (10k-entry run: 2330
    // compiles / 42 s — the rest is genuinely unique code). Any
    // long-lived production driver running a many-query workload
    // wants this sized likewise; it trades a few tens of MB of
    // driver class storage, changes no generated code and no plan.
    // Static conf, so it must be set before the session exists.
    .config("spark.sql.codegen.cache.maxEntries", "10000")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
}

/** Sums executor metrics over every task that ends while it is
  * registered. Snapshot deltas around a query give its true compute
  * cost next to driver-observed wall time, which makes in-suite load
  * artifacts self-diagnosing (VERDICT r7 item 1): a healthy query has
  * task run time ≈ wall × utilized cores, while an externally loaded
  * box shows wall ≫ run/cpus at low GC. The shuffle-write sums are the
  * scale audit's deterministic volume measure. */
final class TaskTally extends SparkListener {
  private val runMs, gcMs, cpuNs, shuffleBytes, shuffleRecords =
    new AtomicLong
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val m = te.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      gcMs.addAndGet(m.jvmGCTime)
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
    }
  }
  def snap: TaskTally.Sums = TaskTally.Sums(runMs.get, gcMs.get,
    cpuNs.get, shuffleBytes.get, shuffleRecords.get)
}

object TaskTally {
  final case class Sums(runMs: Long, gcMs: Long, cpuNs: Long,
      shuffleBytes: Long, shuffleRecords: Long) {
    def -(o: Sums): Sums = Sums(runMs - o.runMs, gcMs - o.gcMs,
      cpuNs - o.cpuNs, shuffleBytes - o.shuffleBytes,
      shuffleRecords - o.shuffleRecords)
  }
}
