package graft.perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark execution counters, summed off the listener bus. Besides task
  * totals it tracks the union of job lifetimes, so wall time with no
  * job running (driver-side planning, scheduling gaps, harness work)
  * can be read off any window.
  */
final class SparkStats extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, shuffleRead, shuffleWrite, spill, inputBytes = new AtomicLong
  private var active = 0
  private var busySince = 0L
  private var busyMs = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.incrementAndGet()
    if (active == 0) busySince = e.time
    active += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active -= 1
    if (active == 0) busyMs += e.time - busySince
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(): Unit
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
    }
  }

  /** Milliseconds some job was running, up to `now` (wall-clock ms). */
  def busyUntil(now: Long): Long = synchronized {
    busyMs + (if (active > 0) now - busySince else 0L)
  }

  def snapshot(now: Long): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.task_run_ms" -> taskRunMs.get.toDouble,
    "spark.task_cpu_ms" -> taskCpuNs.get / 1e6,
    "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble,
    "input_bytes" -> inputBytes.get.toDouble,
    "busy_ms" -> busyUntil(now).toDouble)
}

/** Catalyst phase times of every Dataset action (`collect`, `save`, ...)
  * the program runs, and the time spent in parquet/file writes;
  * `toRdd` calls made by the harness itself do not pass through here
  * and are read off their own tracker instead.
  */
final class PlanStats extends QueryExecutionListener {
  val planMs, writeMs = new AtomicLong

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planMs.addAndGet(PlanStats.phaseMs(qe).values.sum)
    if (qe.analyzed.isInstanceOf[InsertIntoHadoopFsRelationCommand])
      writeMs.addAndGet(durationNs / 1000000L)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object PlanStats {
  def phaseMs(qe: QueryExecution): Map[String, Long] =
    qe.tracker.phases.map { case (k, v) => k -> v.durationMs }
}

/** Per-trigger progress of the trip stream, accumulated as it arrives. */
final class StreamStats extends StreamingQueryListener {
  private val sums = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    def d(k: String): Double = Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    sums("stream.batches") += 1
    sums("ingest.events_in") += p.numInputRows.toDouble
    sums("ingest.source_ms") += d("latestOffset") + d("getBatch")
    sums("stream.trigger_ms_sum") += d("triggerExecution")
    sums("stream.add_batch_ms_sum") += d("addBatch")
    sums("stream.query_planning_ms_sum") += d("queryPlanning")
    sums("stream.wal_commit_ms_sum") += d("walCommit")
    sums("stream.commit_offsets_ms_sum") += d("commitOffsets")
    sums("stream.fixed_ms_sum") += d("triggerExecution") - d("addBatch")
    p.stateOperators.foreach { so =>
      sums("state.rows_peak") = math.max(sums("state.rows_peak"), so.numRowsTotal.toDouble)
      sums("state.bytes_peak") = math.max(sums("state.bytes_peak"), so.memoryUsedBytes.toDouble)
      sums("state.rows_removed") += so.numRowsRemoved.toDouble
      sums("state.commit_ms_sum") += so.commitTimeMs.toDouble
      sums("state.update_ms_sum") += so.allUpdatesTimeMs.toDouble
      sums("state.removal_ms_sum") += so.allRemovalsTimeMs.toDouble
    }
  }

  def snapshot(): Map[String, Double] = synchronized(sums.toMap)

  def resetPeaks(): Unit = synchronized {
    sums("state.rows_peak") = 0.0
    sums("state.bytes_peak") = 0.0
  }
}
