package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** One span of the traced run: `op` is the operation's execution number,
  * `kind` names the layer (op, build, analysis, optimization, planning,
  * job, hive), times are epoch ms. */
final case class Span(op: Int, kind: String, name: String, startMs: Long, endMs: Long)

/** Records, for the operation in progress, a span per Spark job and per
  * Catalyst phase of every executed query, plus the counters the
  * scheduler reports per stage and the scan counters of each executed
  * plan. Events arrive on the listener bus thread; the harness drains
  * the bus before it closes an operation, so nothing leaks into the
  * next one. Spans stay in memory until the run writes them out. */
final class Tracer extends SparkListener with QueryExecutionListener {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var op = -1
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private var counts = mutable.LinkedHashMap.empty[String, Double]

  private def add(k: String, v: Double): Unit =
    counts(k) = counts.getOrElse(k, 0.0) + v

  def begin(opId: Int): Unit = synchronized { op = opId; counts = mutable.LinkedHashMap.empty }
  /** Counters of the operation just finished (call after draining the bus). */
  def end(): Map[String, Double] = synchronized { op = -1; counts.toMap }
  def span(s: Span): Unit = synchronized { spans += s }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobStart(e.jobId) = (e.time, group)
    add("sched.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, group) =>
      if (op >= 0) spans += Span(op, "job", s"job${e.jobId}:$group", t0, e.time)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    add("sched.stages", 1)
    add("sched.tasks", si.numTasks)
    val m = si.taskMetrics
    if (m != null) {
      add("task.run_ms", m.executorRunTime)
      add("task.cpu_ms", m.executorCpuTime / 1e6)
      add("task.gc_ms", m.jvmGCTime)
      add("shuffle.write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("shuffle.write_ms", m.shuffleWriteMetrics.writeTime / 1e6)
      add("shuffle.read_bytes", m.shuffleReadMetrics.totalBytesRead)
      add("shuffle.fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime)
      add("spill.bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      add("io.input_bytes", m.inputMetrics.bytesRead)
      add("io.input_rows", m.inputMetrics.recordsRead)
      add("io.output_bytes", m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      if (op >= 0) {
        qe.tracker.phases.foreach { case (phase, s) =>
          spans += Span(op, phase, funcName, s.startTimeMs, s.endTimeMs)
        }
        scans(qe.executedPlan).foreach { scan =>
          def metric(k: String) = scan.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          add("io.files_read", metric("numFiles"))
          if (scan.relation.partitionSchema.nonEmpty) {
            add("hive.partitions_read", metric("numPartitions"))
          }
        }
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit = ()

  /** File scans of an executed plan, looking through adaptive query stages. */
  private def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
    case s: FileSourceScanExec => Seq(s)
    case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
    case q: QueryStageExec => scans(q.plan)
    case other => other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
  }
}
