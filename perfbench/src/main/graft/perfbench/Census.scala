package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Spark-side counts of one timed operation: jobs, stages, tasks, shuffle
  * and spill bytes, executor GC time and the task-duration spread.
  */
final case class OpCensus(
    jobs: Long,
    stages: Long,
    tasks: Long,
    shuffleBytes: Long,
    spillBytes: Long,
    gcMs: Long,
    taskMs: Seq[Long]) {

  /** Slowest task over the median task: the straggler factor of the op. */
  def taskMaxOverP50: Double =
    if (taskMs.isEmpty) 0.0
    else Stats.ratio(taskMs.max.toDouble, Stats.median(taskMs.map(_.toDouble)))
}

/** Listener attached around one operation at a time. */
final class Census extends SparkListener {
  private val jobs = new AtomicLong
  private val stages = new AtomicLong
  private val tasks = new AtomicLong
  private val shuffle = new AtomicLong
  private val spill = new AtomicLong
  private val gc = new AtomicLong
  private val taskMs = new ConcurrentLinkedQueue[java.lang.Long]

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    taskMs.add(e.taskInfo.duration)
    val m = e.taskMetrics
    if (m != null) {
      shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gc.addAndGet(m.jvmGCTime)
    }
    ()
  }

  def snapshot: OpCensus = OpCensus(jobs.get, stages.get, tasks.get, shuffle.get, spill.get,
    gc.get, taskMs.asScala.map(_.longValue).toSeq)
}

object Census {

  /** Runs `f` with a fresh census attached; returns its result and counts. */
  def around[T](spark: SparkSession)(f: => T): (T, OpCensus) = {
    val sc = spark.sparkContext
    BusDrain(sc)
    val c = new Census
    sc.addSparkListener(c)
    try {
      val out = f
      BusDrain(sc)
      (out, c.snapshot)
    } finally sc.removeSparkListener(c)
  }
}
