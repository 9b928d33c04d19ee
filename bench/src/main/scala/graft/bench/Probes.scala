package graft.bench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}

/** The always-on counters: shuffle bytes behind `shuffle_write_mb`,
  * and stage and job counts that tell when the listener bus has caught
  * up. They cost one callback per stage and job, so the untraced run
  * keeps them; the per-task and per-query machinery is [[Tracer]]. */
final class SparkCounters extends SparkListener {
  val shuffleWriteBytes = new AtomicLong
  private val stagesSubmitted = new AtomicInteger
  private val stagesCompleted = new AtomicInteger
  private val jobsStarted = new AtomicInteger
  private val jobsEnded = new AtomicInteger

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stagesSubmitted.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    shuffleWriteBytes.addAndGet(
      e.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    stagesCompleted.incrementAndGet()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobsStarted.incrementAndGet()

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobsEnded.incrementAndGet()

  /** Listener events arrive asynchronously: wait until every submitted
    * stage and started job has reported its end, so a snapshot (or a
    * listener detached now) has seen the op that just returned. */
  def settle(timeoutMs: Long = 5000): Unit = {
    val end = System.currentTimeMillis() + timeoutMs
    while ((stagesCompleted.get() < stagesSubmitted.get() ||
        jobsEnded.get() < jobsStarted.get()) && System.currentTimeMillis() < end)
      Thread.sleep(5)
  }
}

/** Heap still in use after an op, outside its timer: a full collection,
  * a pause for Spark's ContextCleaner to drop the broadcasts and shuffles
  * that collection made unreachable, and a second collection. The peak
  * over a run's ops is what the ops leave live (cached results, planner
  * and catalog state), free of where young collections happen to fall. */
object LiveHeap {
  def afterFullGcMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

