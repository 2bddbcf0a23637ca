package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.{Notification, NotificationEmitter}
import javax.management.openmbean.CompositeData
import com.sun.management.GarbageCollectionNotificationInfo
import scala.jdk.CollectionConverters._

/** Readings from the JVM's management beans: process CPU, collector time,
  * bytes allocated, and the heap occupancy right after each collection
  * while watching is on. */
object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  private val collectors = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val afterGc = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  @volatile private var watching = false

  collectors.foreach {
    case e: NotificationEmitter =>
      e.addNotificationListener((n: Notification, _: AnyRef) =>
        if (watching && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          afterGc.add(used)
        }, null, null)
    case _ => ()
  }

  def watchHeap(on: Boolean): Unit = watching = on
  def heapAfterGcBytes: Seq[Long] = afterGc.asScala.map(_.longValue).toSeq
  def heapMaxBytes: Long = Runtime.getRuntime.maxMemory
  def heapUsedBytes: Long = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  def uptimeSeconds: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
  def cpuNanos(): Long = os.getProcessCpuTime
  def gcMillis(): Long = collectors.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Bytes allocated by live threads. A thread that ends takes its count
    * with it, so deltas are clamped at zero by the caller. */
  def allocBytes(): Long = {
    if (!threads.isThreadAllocatedMemoryEnabled) threads.setThreadAllocatedMemoryEnabled(true)
    threads.getThreadAllocatedBytes(threads.getAllThreadIds).filter(_ > 0L).sum
  }

  /** CPU, GC and allocation used by `body`, with its wall time. */
  final case class Usage(wallS: Double, cpuS: Double, gcS: Double, allocGiB: Double)
  def measure(body: => Unit): Usage = {
    val (c0, g0, a0, t0) = (cpuNanos(), gcMillis(), allocBytes(), System.nanoTime())
    body
    Usage((System.nanoTime() - t0) / 1e9, (cpuNanos() - c0) / 1e9,
      (gcMillis() - g0) / 1e3, math.max(0L, allocBytes() - a0) / math.pow(1024, 3))
  }
}
