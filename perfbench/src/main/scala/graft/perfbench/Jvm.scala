package graft.perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

/** JVM-layer gauges: collector time, and the old-generation heap in
  * use right after each collection (from GC notifications, so young
  * collections during a pass sample the live data they promote). */
object Jvm {

  private val startMs = ManagementFactory.getRuntimeMXBean.getStartTime
  private val events = ArrayBuffer.empty[(Long, Long)] // (end epoch ms, old-gen bytes after)

  private def isOld(pool: String): Boolean =
    pool.contains("Old Gen") || pool.contains("Tenured")

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, hb: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val after = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if isOld(pool) => u.getUsed }.sum
        events.synchronized { events += ((startMs + info.getGcInfo.getEndTime, after)) }
      }
  }

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
    case _ => ()
  }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Full collection; returns the old generation in use after it. */
  def collect(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => isOld(p.getName)).map(_.getUsage.getUsed).sum
  }

  /** Peak old generation in use after a collection that ended inside
    * `[fromMs, toMs]`, at least `floor` (the level after the full
    * collection that opened the window). Notifications arrive on
    * their own thread, so call this a moment after the window. */
  def peakOldAfterGc(fromMs: Long, toMs: Long, floor: Long): Long =
    events.synchronized {
      (floor +: events.collect { case (t, b) if t >= fromMs && t <= toMs => b }.toSeq).max
    }

  val MB: Double = 1024.0 * 1024.0
}
