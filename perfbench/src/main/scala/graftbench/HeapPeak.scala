package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._
import com.sun.management.GarbageCollectionNotificationInfo

/** The JVM's peak memory in use, as `peak_heap_mb` reports it: the largest
  * heap occupancy right after any garbage collection of the run, plus the
  * peak non-heap use (metaspace, code cache). The heap is a fixed size, so
  * the process's resident set (`peak_rss_mb`) stays near that size
  * whatever the run retains; the post-collection occupancy follows what
  * graft and Spark keep alive.
  */
object HeapPeak {
  private val peakHeapB = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Listen to every collector's notifications; call once, first thing. */
  def start(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(
            n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          peakHeapB.accumulateAndGet(used, (a, b) => math.max(a, b))
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  def peakMb: Double = {
    val nonHeapB = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum
    (peakHeapB.get + nonHeapB) / 1048576.0
  }
}
