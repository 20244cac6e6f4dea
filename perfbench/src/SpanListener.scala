package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Engine counters of one span: everything the listener saw between two
  * `drain` calls. The driver runs one closed-loop client, so the spans
  * of a pass are sequential and a time window attributes work exactly,
  * also for jobs that library code starts on its own threads. */
final case class SpanCounters(jobs: Long, tasks: Long, taskRunS: Double,
    taskCpuS: Double, gcS: Double, inputMb: Double, shuffleMb: Double,
    spillMb: Double, schedWaitS: Double,
    blockStorePeakMb: Double)

class SpanListener extends SparkListener {
  private val mb = 1024.0 * 1024.0
  private var jobs, tasks = 0L
  private var runMs, gcMs, cpuNs, inBytes, shuffleBytes, spillBytes = 0L
  private var schedWaitMs = 0L
  private val stageSubmit = mutable.Map.empty[(Int, Int), Long]
  private val blocks = mutable.Map.empty[String, Long]
  private var blockBytes, blockPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    synchronized { jobs += 1 }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val i = e.stageInfo
      stageSubmit((i.stageId, i.attemptNumber())) =
        i.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskStart(e: SparkListenerTaskStart): Unit =
    synchronized {
      // scheduler wait of a stage: first task launch minus stage submit
      stageSubmit.remove((e.stageId, e.stageAttemptId)).foreach { sub =>
        schedWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        gcMs += m.jvmGCTime
        inBytes += m.inputMetrics.bytesRead
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val i = e.blockUpdatedInfo
      val size = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      val old = blocks.put(i.blockId.name, size).getOrElse(0L)
      blockBytes += size - old
      blockPeak = math.max(blockPeak, blockBytes)
    }

  /** The counters since the previous drain, then resets them. */
  def drain(sc: SparkContext): SpanCounters = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val c = SpanCounters(jobs, tasks, runMs / 1e3, cpuNs / 1e9, gcMs / 1e3,
        inBytes / mb, shuffleBytes / mb, spillBytes / mb,
        schedWaitMs / 1e3, blockPeak / mb)
      jobs = 0; tasks = 0; runMs = 0; gcMs = 0; cpuNs = 0
      inBytes = 0; shuffleBytes = 0; spillBytes = 0; schedWaitMs = 0
      blockPeak = blockBytes
      c
    }
  }
}
