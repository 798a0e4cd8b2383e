package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Host-noise markers read from /proc, so a contended run can be told
  * apart from its own artifact. */
object Host {

  def loadAvg1m(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => -1.0 }

  /** (steal jiffies, total jiffies) summed over all CPUs. */
  def cpuJiffies(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).asScala.head.trim.split("\\s+").drop(1)
        .map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } catch { case _: Exception => (0L, 0L) }

  /** Hypervisor steal as a share of all CPU time between two samples. */
  def stealFrac(a: (Long, Long), b: (Long, Long)): Double = {
    val total = b._2 - a._2
    if (total <= 0) 0.0 else (b._1 - a._1).toDouble / total
  }

  /** Peak resident set of this JVM in MB (`VmHWM`). */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0)
      .getOrElse(sys.error("no VmHWM in /proc/self/status"))

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def heapMaxMb: Double = Runtime.getRuntime.maxMemory() / 1048576.0
}
