package graftbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Host and JVM readings: load, CPU steal, GC time and post-GC heap. */
object Host {
  def loadavg(): String =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim).getOrElse("")

  /** The aggregate `cpu` line of /proc/stat: user nice system idle iowait
    * irq softirq steal ... in clock ticks (empty where there is none). */
  def cpuTicks(): Array[Long] =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/stat")).asScala
      .find(_.startsWith("cpu ")).get.trim.split("\\s+").drop(1).take(8).map(_.toLong))
      .getOrElse(Array.empty[Long])

  /** Share of CPU time stolen by the hypervisor between two readings. */
  def stealShare(a: Array[Long], b: Array[Long]): Double =
    if (a.length < 8 || b.length < 8) 0.0
    else {
      val total = (b.sum - a.sum).toDouble
      if (total <= 0) 0.0 else (b(7) - a(7)) / total
    }

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Process CPU time (all threads), in seconds. */
  def cpuSeconds(): Double =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Heap in use right after a full collection, summed over the heap
    * pools' collection usage. The second collection runs after Spark's
    * ContextCleaner has had time to drop the broadcasts and shuffles the
    * first one freed. */
  def postGcHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
      .map(_.getCollectionUsage.getUsed).sum / (1024.0 * 1024.0)
  }

  /** JVM start, in epoch milliseconds. */
  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
