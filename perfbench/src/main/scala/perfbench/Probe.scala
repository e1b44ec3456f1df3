package perfbench

import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Process- and host-level counters read around each pass: wall clock,
  * process CPU, JVM GC time and the host's steal time. None of them needs
  * a Spark listener, so untraced runs read them too. */
final case class Sample(wallNs: Long, cpuNs: Long, gcMs: Long, stealTicks: Long) {
  def until(later: Sample): Map[String, Double] = Map(
    "wall_s" -> (later.wallNs - wallNs) / 1e9,
    "cpu_s" -> (later.cpuNs - cpuNs) / 1e9,
    "gc_s" -> (later.gcMs - gcMs) / 1e3,
    "steal_s" -> (later.stealTicks - stealTicks) / Probe.ticksPerSecond)
}

object Probe {
  /** USER_HZ of /proc/stat; 100 on every Linux build the JDK supports. */
  val ticksPerSecond = 100.0

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def sample(): Sample = Sample(System.nanoTime(), os.getProcessCpuTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum,
    stealTicks())

  /** Host-wide steal ticks: time this VM's vCPUs were runnable but the
    * hypervisor ran something else. 0 where /proc/stat has no such field. */
  def stealTicks(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().find(_.startsWith("cpu ")).map(_.trim.split("\\s+"))
        .filter(_.length > 8).map(_(8).toLong).getOrElse(0L)
      finally src.close()
    } catch { case _: java.io.IOException => 0L }

  /** Heap still in use after a full collection: the pass's live set.
    * Read between passes, outside the timed window. The second collection
    * runs after Spark's ContextCleaner has had a moment to drop the blocks
    * and broadcasts the first one found unreachable. */
  def liveHeapMb(): Double = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
  }

  def host(nproc: Int): Map[String, Any] = Map(
    "nproc" -> nproc,
    "jdk" -> System.getProperty("java.runtime.version"),
    "spark" -> org.apache.spark.SPARK_VERSION,
    "scala" -> scala.util.Properties.versionNumberString,
    "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024))
}
