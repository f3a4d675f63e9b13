package graft.streaming

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.ListenerBusBridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}

/** Progress/feedback stream (P17) — the engine-side analogue of the
  * reference's CoreFeedback.progress_done ticks
  * (collect_plugins.py:41-42,196-212, show_progress.py): a
  * SparkListener aggregating job/stage/task completion, delivered to a
  * caller-supplied sink. Spark's scheduler events replace the
  * reference's hand-rolled per-batch counters.
  *
  * The same listener is the per-run record: executor time, shuffle,
  * spill and output totals, every job's span (so a caller can split
  * wall time into job time and driver-only gap), and, through a paired
  * StreamingQueryListener, each streaming micro-batch's `durationMs`
  * split.
  */
final class ProgressFeedback(onProgress: ProgressFeedback.Snapshot => Unit)
    extends SparkListener {
  import ProgressFeedback._

  private val jobsStarted = new AtomicInteger(0)
  private val jobsDone = new AtomicInteger(0)
  private val stagesDone = new AtomicInteger(0)
  private val tasksDone = new AtomicLong(0L)
  private val recordsRead = new AtomicLong(0L)
  private val executorRunTimeMs = new AtomicLong(0L)
  private val executorCpuTimeNs = new AtomicLong(0L)
  private val shuffleReadBytes = new AtomicLong(0L)
  private val shuffleWriteBytes = new AtomicLong(0L)
  private val memorySpilledBytes = new AtomicLong(0L)
  private val diskSpilledBytes = new AtomicLong(0L)
  private val bytesWritten = new AtomicLong(0L)
  private val recordsWritten = new AtomicLong(0L)
  private val jobStarts = collection.concurrent.TrieMap.empty[Int, Long]
  private val jobSpans = new AtomicReference(Vector.empty[(Long, Long)])
  private val batches = new AtomicReference(Vector.empty[Batch])

  private def tick(): Unit = onProgress(snapshot)

  def snapshot: Snapshot = Snapshot(
    jobsStarted.get, jobsDone.get, stagesDone.get, tasksDone.get,
    recordsRead.get, executorRunTimeMs.get, executorCpuTimeNs.get,
    shuffleReadBytes.get, shuffleWriteBytes.get, memorySpilledBytes.get,
    diskSpilledBytes.get, bytesWritten.get, recordsWritten.get,
    jobSpans.get, batches.get)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStarts.put(e.jobId, e.time)
    jobsStarted.incrementAndGet(); tick()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobStarts.remove(e.jobId)
      .foreach(t0 => jobSpans.getAndUpdate(_ :+ (t0 -> e.time)))
    jobsDone.incrementAndGet(); tick()
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stagesDone.incrementAndGet(); tick()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasksDone.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
      executorRunTimeMs.addAndGet(m.executorRunTime)
      executorCpuTimeNs.addAndGet(m.executorCpuTime)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      memorySpilledBytes.addAndGet(m.memoryBytesSpilled)
      diskSpilledBytes.addAndGet(m.diskBytesSpilled)
      bytesWritten.addAndGet(m.outputMetrics.bytesWritten)
      recordsWritten.addAndGet(m.outputMetrics.recordsWritten)
    }
    tick()
  }

  private def onBatch(b: Batch): Unit = {
    batches.getAndUpdate(_ :+ b); tick()
  }
}

object ProgressFeedback {

  /** One finished streaming micro-batch: its id, input rows and
    * Spark's `durationMs` split (addBatch, queryPlanning, walCommit,
    * commitOffsets, latestOffset, triggerExecution, …). */
  final case class Batch(batchId: Long, numInputRows: Long,
      durationMs: Map[String, Long])

  /** The run record. Times are executor-summed (run time in ms, CPU
    * time in ns); `jobSpans` holds each finished job's (start, end)
    * epoch millis, in completion order; `batches` every micro-batch of
    * any streaming query that reported progress during the run. */
  final case class Snapshot(
      jobsStarted: Int, jobsDone: Int, stagesDone: Int, tasksDone: Long,
      recordsRead: Long, executorRunTimeMs: Long, executorCpuTimeNs: Long,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memorySpilledBytes: Long, diskSpilledBytes: Long,
      bytesWritten: Long, recordsWritten: Long,
      jobSpans: Seq[(Long, Long)], batches: Seq[Batch]) {

    /** Milliseconds covered by at least one job: the union of
      * `jobSpans`. Wall time minus this is the driver-only gap. */
    def jobUnionMs: Long = {
      val (total, _) = jobSpans.sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
          if (e <= reach) (sum, reach)
          else (sum + e - math.max(s, reach), e)
        }
      total
    }
  }

  /** Forwards each streaming micro-batch's progress to the record. */
  private final class BatchListener(fb: ProgressFeedback)
      extends StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val split = Map.newBuilder[String, Long]
      p.durationMs.forEach((k, v) => split += k -> v.longValue)
      fb.onBatch(Batch(p.batchId, p.numInputRows, split.result()))
    }
  }

  /** Run `body` with progress feedback attached; the listeners are
    * always detached afterwards. Returns (result, final snapshot). The
    * snapshot is taken once the listener bus has delivered every event
    * posted before `body` returned. */
  def withProgress[A](spark: SparkSession)
      (onProgress: Snapshot => Unit = _ => ())(body: => A): (A, Snapshot) = {
    val fb = new ProgressFeedback(onProgress)
    val batches = new BatchListener(fb)
    spark.sparkContext.addSparkListener(fb)
    spark.streams.addListener(batches)
    try {
      val out = body
      ListenerBusBridge.drain(spark.sparkContext)
      (out, fb.snapshot)
    } finally {
      spark.streams.removeListener(batches)
      spark.sparkContext.removeSparkListener(fb)
    }
  }
}
