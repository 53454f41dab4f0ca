package medbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** Memory the benchmark JVM needed, measured so that the heap's sizing
  * policy does not decide the figure: the most heap still live after any
  * collection plus the peak of the non-heap pools (classes, compiled code). */
object Memory {
  @volatile private var liveHeapPeak = 0L

  private def nonHeap(pool: String) =
    ManagementFactory.getMemoryPoolMXBeans.asScala.exists(p => p.getName == pool && p.getType == MemoryType.NON_HEAP)

  /** Starts recording the heap left after each collection. */
  def watch(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case gc: NotificationEmitter =>
      gc.addNotificationListener((n: Notification, _: AnyRef) =>
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if !nonHeap(pool) => u.getUsed }.sum
          synchronized { liveHeapPeak = math.max(liveHeapPeak, live) }
        }, null, null)
    case _ =>
  }

  /** Peak live heap (the heap in use now when nothing was collected yet)
    * plus peak non-heap, in MiB. */
  def peakMb: Double = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    val heap = if (liveHeapPeak > 0) liveHeapPeak else ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    (heap + pools.filter(_.getType == MemoryType.NON_HEAP).map(_.getPeakUsage.getUsed).sum) / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
    finally src.close()
  }
}
