package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData
import scala.jdk.CollectionConverters._

/** JVM accounting: total GC time, and the highest old-generation occupancy
  * seen right after a collection (the live set that survived, not garbage
  * waiting to be collected).
  */
object Jvm {
  @volatile private var peakOldAfterGc = 0L

  private def isOld(pool: String): Boolean =
    pool.contains("Old Gen") || pool.contains("Tenured")

  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[CompositeData])
        info.getGcInfo.getMemoryUsageAfterGc.asScala.foreach { case (pool, u) =>
          if (isOld(pool) && u.getUsed > peakOldAfterGc) peakOldAfterGc = u.getUsed
        }
      }
  }

  def install(): Unit =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }

  /** Reset the peak to the current after-GC occupancy (a full collection). */
  def resetPeak(): Unit = {
    peakOldAfterGc = 0L
    System.gc()
  }

  def peakOldMb: Double = peakOldAfterGc / (1024.0 * 1024.0)

  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0
}
