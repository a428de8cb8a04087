package lakebench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.lakebench.Internals
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent
import org.apache.spark.storage.RDDBlockId

/** Counters one gate run adds up in the Spark layers below it. */
final case class LayerCounts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
    jobIntervals: Vector[(Long, Long)] = Vector.empty,
    taskCpuNs: Long = 0, taskRunMs: Long = 0,
    shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteRecords: Long = 0,
    inputBytes: Long = 0, outputBytes: Long = 0, outputRecords: Long = 0,
    spillMemoryBytes: Long = 0, spillDiskBytes: Long = 0,
    executions: Long = 0, analysisMs: Long = 0, optimizationMs: Long = 0, planningMs: Long = 0,
    streamBatches: Long = 0, streamBatchMs: Long = 0, streamInputRows: Long = 0,
    blockBytesPeak: Long = 0)

/** One SparkListener on the SparkContext's bus. It sees the SQL-execution
  * and streaming-progress events of every session, including the child
  * sessions that gates make with `newSession()`, which a
  * QueryExecutionListener or StreamingQueryListener registered on the
  * benchmark's own session would miss.
  *
  * Events arrive on the listener-bus thread; [[take]] drains the bus first
  * and then hands the totals since the previous call to the caller. */
final class Tracer extends SparkListener {
  private var c = LayerCounts()
  private val jobStarts = mutable.Map.empty[Int, Long]
  private val rddBlocks = mutable.Map.empty[RDDBlockId, Long]
  private var blockBytes = 0L

  /** Totals since the previous call; the block-bytes peak restarts from
    * the bytes cached now. */
  def take(sc: org.apache.spark.SparkContext): LayerCounts = {
    Internals.drainListenerBus(sc)
    synchronized {
      val out = c
      c = LayerCounts(blockBytesPeak = blockBytes)
      out
    }
  }

  /** Start tracing with no RDD block cached, as after the harness's
    * clean-up; blocks dropped while the listener was off are not seen. */
  def start(sc: org.apache.spark.SparkContext): Unit = {
    synchronized {
      c = LayerCounts()
      jobStarts.clear()
      rddBlocks.clear()
      blockBytes = 0
    }
    sc.addSparkListener(this)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStarts(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val start = jobStarts.remove(e.jobId).getOrElse(e.time)
    c = c.copy(jobs = c.jobs + 1, jobIntervals = c.jobIntervals :+ (start -> e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    c = c.copy(stages = c.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    c = if (m == null) c.copy(tasks = c.tasks + 1) else c.copy(
      tasks = c.tasks + 1,
      taskCpuNs = c.taskCpuNs + m.executorCpuTime,
      taskRunMs = c.taskRunMs + m.executorRunTime,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleWriteRecords = c.shuffleWriteRecords + m.shuffleWriteMetrics.recordsWritten,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      outputBytes = c.outputBytes + m.outputMetrics.bytesWritten,
      outputRecords = c.outputRecords + m.outputMetrics.recordsWritten,
      spillMemoryBytes = c.spillMemoryBytes + m.memoryBytesSpilled,
      spillDiskBytes = c.spillDiskBytes + m.diskBytesSpilled)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    e.blockUpdatedInfo.blockId match {
      case id: RDDBlockId =>
        val size = e.blockUpdatedInfo.memSize + e.blockUpdatedInfo.diskSize
        blockBytes += size - rddBlocks.getOrElse(id, 0L)
        if (size == 0) rddBlocks.remove(id) else rddBlocks(id) = size
        if (blockBytes > c.blockBytesPeak) c = c.copy(blockBytesPeak = blockBytes)
      case _ =>
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      val ph = Internals.phasesMs(end)
      synchronized {
        c = c.copy(executions = c.executions + 1,
          analysisMs = c.analysisMs + ph.getOrElse("analysis", 0L),
          optimizationMs = c.optimizationMs + ph.getOrElse("optimization", 0L),
          planningMs = c.planningMs + ph.getOrElse("planning", 0L))
      }
    case p: QueryProgressEvent => synchronized {
      c = c.copy(streamBatches = c.streamBatches + 1,
        streamBatchMs = c.streamBatchMs + p.progress.batchDuration,
        streamInputRows = c.streamInputRows + p.progress.numInputRows)
    }
    case _ =>
  }
}
