package graftbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Peak memory the program keeps: the most memory in use (heap and
  * non-heap pools) right after any garbage collection of the run. Unlike
  * the process's peak resident set, which follows how far the collector
  * chose to grow the heap, this follows what the program retains. */
object Mem {
  @volatile private var peak = 0L

  /** Start watching collections; call once, at JVM start. */
  def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.values.asScala.map(_.getUsed).sum
          synchronized { peak = peak max used }
        }
    }, null, null)
    case _ =>
  }

  def peakMb: Double = peak / 1048576.0
}
