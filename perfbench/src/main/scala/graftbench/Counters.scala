package graftbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._

/** Spark runtime counters summed over every task, stage and job the
  * listener sees. Take a [[RuntimeCounters.Snap]] before and after a call;
  * their difference is the call's cost.
  */
final class RuntimeCounters extends SparkListener {
  private val jobsStarted = new AtomicLong
  private val jobsEnded = new AtomicLong
  private val stages = new AtomicLong
  private val tasksStarted = new AtomicLong
  private val tasksEnded = new AtomicLong
  private val failedTasks = new AtomicLong
  private val cpuNs = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val fetchWaitMs = new AtomicLong
  private val spill = new AtomicLong
  private val gcMs = new AtomicLong
  private val peakExec = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobsStarted.incrementAndGet()
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskStart(e: SparkListenerTaskStart): Unit = tasksStarted.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    if (e.reason != Success) failedTasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      fetchWaitMs.addAndGet(m.shuffleReadMetrics.fetchWaitTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gcMs.addAndGet(m.jvmGCTime)
      peakExec.accumulateAndGet(m.peakExecutionMemory, (a, b) => math.max(a, b))
    }
    tasksEnded.incrementAndGet()
  }

  /** Wait (up to `maxMs`) until every started job and task has been seen
    * to end: listener events arrive asynchronously after an action returns.
    */
  def settle(maxMs: Long = 3000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def quiet = jobsEnded.get == jobsStarted.get && tasksEnded.get == tasksStarted.get
    var stable = 0
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(20)
      stable = if (quiet) stable + 1 else 0
    }
  }

  /** Counters so far. The peak is reset, so the next snapshot's peak
    * covers only the interval since this one.
    */
  def snap(): RuntimeCounters.Snap = {
    settle()
    RuntimeCounters.Snap(jobsEnded.get, stages.get, tasksEnded.get,
      failedTasks.get, cpuNs.get, shuffleRead.get, shuffleWrite.get,
      fetchWaitMs.get, spill.get, gcMs.get, peakExec.getAndSet(0L))
  }
}

object RuntimeCounters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
                        cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
                        fetchWaitMs: Long, spill: Long, gcMs: Long,
                        peakExec: Long) {
    /** The counters of the interval from `before` to this snapshot. */
    def since(before: Snap): Map[String, Double] = Map(
      "jobs" -> (jobs - before.jobs).toDouble,
      "stages" -> (stages - before.stages).toDouble,
      "tasks" -> (tasks - before.tasks).toDouble,
      "failed_tasks" -> (failedTasks - before.failedTasks).toDouble,
      "task_cpu_s" -> (cpuNs - before.cpuNs) / 1e9,
      "shuffle_read_mb" -> (shuffleRead - before.shuffleRead) / 1e6,
      "shuffle_write_mb" -> (shuffleWrite - before.shuffleWrite) / 1e6,
      "shuffle_fetch_wait_s" -> (fetchWaitMs - before.fetchWaitMs) / 1e3,
      "spill_mb" -> (spill - before.spill) / 1e6,
      "gc_s" -> (gcMs - before.gcMs) / 1e3,
      "peak_exec_mem_mb" -> peakExec / 1e6)
  }

  /** Resident block bytes (memory + disk) of every cached RDD, in MB. */
  def storageMb(sc: SparkContext): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Bytes allocated so far by all live JVM threads (HotSpot ThreadMXBean).
    * Spark's task threads are pooled, so a before/after difference around
    * a call is that call's allocation.
    */
  def allocatedBytes(): Long =
    java.lang.management.ManagementFactory.getThreadMXBean match {
      case t: com.sun.management.ThreadMXBean =>
        t.getAllThreadIds.map(id => math.max(0L, t.getThreadAllocatedBytes(id))).sum
      case _ => 0L
    }
}
