package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak heap in use after collection over an interval.
  *
  * Every collection's notification carries the pools' usage after it; the
  * heap pools are summed and kept with the collection's end time (JVM
  * uptime). [[peakMb]] closes an interval with a full collection and returns
  * the largest after-collection heap of the collections that ended inside
  * it, so the figure is defined even when no other collection ran.
  */
object HeapPeak {

  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val seen = new ConcurrentLinkedQueue[(Long, Long)]()

  private val listener = new NotificationListener {
    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData]).getGcInfo
        val used = info.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPools(pool) => u.getUsed
        }.sum
        seen.add((info.getEndTime, used))
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ =>
  }

  /** The current JVM uptime (ms), the clock collections are stamped with. */
  def now(): Long = ManagementFactory.getRuntimeMXBean.getUptime

  /** Collect fully and return the largest heap in use after any
    * collection that ended since `from` (MB): the full collection's own
    * figure, read right after it, and those of the collections notified
    * since `from`. A notification is delivered on its own thread shortly
    * after its collection; the closing collection is read directly so
    * there is nothing to wait for.
    */
  def peakMb(from: Long): Double = {
    System.gc()
    val closing = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (closing +: seen.asScala.filter(_._1 >= from).map(_._2).toSeq).max / 1048576.0
  }
}
