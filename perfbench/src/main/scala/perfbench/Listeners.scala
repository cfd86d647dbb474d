package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.PartitioningAwareFileIndex
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The benchmark's listener pair: a QueryExecutionListener (planning
  * phases, scan metrics of each executed plan) plus a SparkListener (SQL
  * executions, jobs, stages, task metrics) and a StreamingQueryListener
  * (micro-batch progress). Everything lands in [[Trace]] counters, which
  * only accumulate while a traced pass is active; the caller drains the
  * listener bus at both pass boundaries so no event crosses over. */
final class Listeners extends SparkListener with QueryExecutionListener
    with AdaptiveSparkPlanHelper {

  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private var worstSkew = 1.0

  /** Job intervals (epoch ms) seen since the last call, and the worst
    * stage skew; resets both. */
  def drainJobs(): (Seq[(Long, Long)], Double) = synchronized {
    val out = (jobSpans.toSeq, worstSkew)
    jobSpans.clear(); jobStart.clear(); stageTasks.clear(); worstSkew = 1.0
    out
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case _: SparkListenerSQLExecutionStart => Trace.add("plans.sql_executions", 1)
    case _ =>
  }

  override def onJobStart(js: SparkListenerJobStart): Unit = if (Trace.active) {
    Trace.add("plans.jobs", 1)
    synchronized { jobStart(js.jobId) = js.time }
  }

  override def onJobEnd(je: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(je.jobId).foreach(t0 => jobSpans += ((t0, je.time)))
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = if (Trace.active) {
    val m = te.taskMetrics
    if (m != null) {
      Trace.add("exec.task_ms", m.executorRunTime.toDouble)
      Trace.add("exec.cpu_ms", m.executorCpuTime / 1e6)
      Trace.add("exec.gc_ms", m.jvmGCTime.toDouble)
      Trace.add("exec.shuffle_records", m.shuffleWriteMetrics.recordsWritten.toDouble)
      Trace.add("exec.shuffle_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      Trace.add("exec.spill_bytes",
        (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      Trace.add("exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
    if (te.taskInfo != null) synchronized {
      stageTasks.getOrElseUpdate(te.stageId, mutable.ArrayBuffer.empty) +=
        te.taskInfo.duration
    }
  }

  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    if (Trace.active) {
      Trace.add("exec.stages", 1)
      synchronized {
        stageTasks.remove(sc.stageInfo.stageId).filter(_.size >= 2).foreach { ds =>
          val med = Trace.median(ds.map(_.toDouble).toSeq)
          if (med > 0) worstSkew = math.max(worstSkew, ds.max / med)
        }
      }
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.active) {
      val ph = qe.tracker.phases
      def phase(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
      Trace.add("plans.analysis_ms", phase("analysis"))
      Trace.add("plans.optimization_ms", phase("optimization"))
      Trace.add("plans.physical_ms", phase("planning"))
      collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach { s =>
          def metric(k: String) = s.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
          Trace.add("exec.scan_ms", metric("scanTime"))
          Trace.add("scan.rows", metric("numOutputRows"))
          s.relation.location match {
            case p: PartitioningAwareFileIndex if s.relation.partitionSchema.nonEmpty =>
              Trace.add("scan.partitions_read", metric("numPartitions"))
              Trace.add("scan.partitions_total", p.partitionSpec().partitions.size.toDouble)
            case _ =>
          }
        }
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Micro-batch progress of the ingest drains. */
  val streaming: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def ms(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      if (e.progress.numInputRows > 0) Trace.add("streaming.batches", 1)
      Trace.add("streaming.add_batch_ms", ms("addBatch"))
      Trace.add("streaming.wal_commit_ms", ms("walCommit") + ms("commitOffsets"))
      Trace.add("streaming.trigger_overhead_ms",
        math.max(0.0, ms("triggerExecution") - ms("addBatch")))
    }
  }
}
