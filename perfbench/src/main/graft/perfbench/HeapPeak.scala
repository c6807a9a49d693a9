package graft.perfbench

import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.openmbean.CompositeData
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._

/** Highest heap in use after a full collection while armed. Natural full
  * collections are seen through GC notifications; [[sample]] forces them at
  * operation boundaries so every run has samples.
  */
final class HeapPeak {
  @volatile private var armed = false
  @volatile private var peak = 0L

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: Any): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        if (info.getGcAction.contains("major")) {
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          record(used)
        }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _                      => ()
  }

  private def record(used: Long): Unit = synchronized { if (used > peak) peak = used }

  def arm(): Unit = armed = true
  def disarm(): Unit = armed = false

  /** Force a full collection and record the heap left in use. Spark frees
    * broadcast and shuffle blocks from a cleaner thread once a collection
    * has found them unreachable, so a second collection follows a pause.
    */
  def sample(): Unit = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    if (armed) record(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }

  def peakMb: Double = peak / 1048576.0
}
