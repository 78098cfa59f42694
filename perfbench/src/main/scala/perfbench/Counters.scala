package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Engine counters for one measured rep, from a `SparkListener` the
  * benchmark registers itself. `reset` before a rep and `snapshot` after
  * it; both drain the asynchronous listener bus first.
  */
final class Counters(sc: SparkContext) extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val failedTasks = new AtomicLong
  private val runMs = new AtomicLong
  private val cpuNs = new AtomicLong
  private val gcMs = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val spill = new AtomicLong
  // task durations per stage, for the skew of the heaviest stage
  private val durations = new ConcurrentHashMap[Int, java.util.Vector[Long]]()

  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    durations.computeIfAbsent(e.stageId, _ => new java.util.Vector[Long]())
      .add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  def reset(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    Seq(jobs, stages, tasks, failedTasks, runMs, cpuNs, gcMs, shuffleWrite,
      shuffleRead, spill).foreach(_.set(0))
    durations.clear()
  }

  /** Counters since the last reset, for a rep of `wallS` seconds on
    * `cores` task slots.
    */
  def snapshot(wallS: Double, cores: Int): Counters.Snap = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val perStage = durations.values.asScala.map(_.asScala.toVector).toVector
    val heaviest = if (perStage.isEmpty) Vector.empty[Long] else perStage.maxBy(_.sum)
    val skew =
      if (heaviest.isEmpty) 1.0
      else heaviest.max.toDouble / math.max(Stats.median(heaviest.map(_.toDouble)), 1.0)
    Counters.Snap(
      jobs = jobs.get, stages = stages.get, tasks = tasks.get,
      failedTasks = failedTasks.get,
      runS = runMs.get / 1e3, cpuS = cpuNs.get / 1e9, gcS = gcMs.get / 1e3,
      shuffleWriteMb = shuffleWrite.get / 1e6, shuffleReadMb = shuffleRead.get / 1e6,
      spillMb = spill.get / 1e6, taskSkew = skew,
      slotUtil = runMs.get / 1e3 / math.max(wallS * cores, 1e-9))
  }
}

object Counters {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, failedTasks: Long,
      runS: Double, cpuS: Double, gcS: Double, shuffleWriteMb: Double,
      shuffleReadMb: Double, spillMb: Double, taskSkew: Double, slotUtil: Double)
}
