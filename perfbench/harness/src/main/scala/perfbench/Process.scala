package perfbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Facts about this JVM, read from the JDK and /proc. */
object Process {
  /** Wall-clock epoch ms at which this JVM started. */
  def startMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  /** Seconds since this JVM started. */
  def sinceStartS(): Double = (System.currentTimeMillis() - startMs) / 1000.0

  /** CPU time this process has used, all threads, in nanoseconds. */
  def cpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Milliseconds the JVM's collectors have spent collecting. */
  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).filter(_ > 0).sum

  /** Resident-set high-water mark (VmHWM) in MiB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(sys.error("VmHWM missing from /proc/self/status"))

  /** Heap in use, in MiB, after full collections: what the process keeps
    * live (graphs, memos, cached blocks), without the collector's slack.
    * Collects until two readings agree, because Spark's context cleaner
    * drops unreferenced broadcast and shuffle state only after a
    * collection has found it unreachable.
    */
  def liveHeapMb(): Double = {
    def used(): Double = {
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }
    var last = used()
    var settled = false
    var rounds = 1
    while (!settled && rounds < 6) {
      Thread.sleep(100)
      val now = used()
      settled = math.abs(now - last) <= 0.005 * last
      last = now
      rounds += 1
    }
    last
  }

  def stamp(cpus: Int): Map[String, Any] = Map(
    "jdk" -> System.getProperty("java.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark_cpus" -> cpus)
}
