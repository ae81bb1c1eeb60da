package linkbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak live driver heap: the largest heap occupancy left after any garbage
  * collection since [[reset]]. Pool peak counters mostly read the young
  * generation's size at the moment it filled, which the collector resizes from run
  * to run; occupancy after collection is what a rep keeps alive (caches, collected
  * results, broadcast and checkpoint blocks).
  */
object Heap {
  @volatile private var peak = 0L

  private def used: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
        Heap.synchronized { peak = math.max(peak, after) }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  /** Collects, gives Spark's context cleaner a moment to drop the shuffle and
    * broadcast state the collection released (so that work does not overlap the
    * next rep), then starts a new peak from the live heap.
    */
  def reset(): Unit = {
    System.gc()
    Thread.sleep(200)
    synchronized { peak = used }
  }

  /** Collects once more so what the rep still holds counts, and returns the peak (MB). */
  def peakMb(): Double = {
    System.gc()
    synchronized { peak = math.max(peak, used) }
    peak / 1048576.0
  }
}
