package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Host and JVM counters read at the edges of the timed region.
  *
  * Contention: machine-wide busy and iowait+steal jiffies from
  * `/proc/stat` (busy minus this process's own jiffies is CPU other
  * processes took), and the `some ... total=` stall counters (µs) of
  * `/proc/pressure/{cpu,io,memory}`. A counter that cannot be read is -1
  * and its delta reports as -1.
  */
object Host {

  final case class Snap(wallNs: Long, busy: Long, iowStl: Long,
      total: Long, self: Long, psiCpu: Long, psiIo: Long, psiMem: Long,
      gcMs: Long, cpuNs: Long, jitMs: Long)

  private def statJiffies(): (Long, Long, Long) =
    try {
      // cpu user nice system idle iowait irq softirq steal ...
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      val busy = f.take(3).sum + f.slice(5, 8).sum
      (busy, f(4) + f.lift(7).getOrElse(0L), f.take(8).sum)
    } catch { case _: Exception => (-1L, -1L, -1L) }

  private def selfJiffies(): Long =
    try {
      val s = Files.readString(Paths.get("/proc/self/stat"))
      // utime and stime follow the parenthesised command name
      val f = s.substring(s.lastIndexOf(')') + 2).trim.split("\\s+")
      f(11).toLong + f(12).toLong
    } catch { case _: Exception => -1L }

  private def psiSomeUs(resource: String): Long =
    try {
      Files.readAllLines(Paths.get(s"/proc/pressure/$resource")).asScala
        .find(_.startsWith("some")).flatMap(_.split("\\s+")
          .find(_.startsWith("total=")).map(_.stripPrefix("total=").toLong))
        .getOrElse(-1L)
    } catch { case _: Exception => -1L }

  def snap(): Snap = {
    val (busy, iowStl, total) = statJiffies()
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum
    val cpu = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
      case _ => -1L
    }
    val jit = Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .fold(-1L)(_.getTotalCompilationTime)
    Snap(System.nanoTime(), busy, iowStl, total, selfJiffies(),
      psiSomeUs("cpu"), psiSomeUs("io"), psiSomeUs("memory"), gc, cpu, jit)
  }

  /** Deltas between two snapshots, as named measurements. */
  def delta(a: Snap, b: Snap): Map[String, Double] = {
    def d(f: Snap => Long, scale: Double): Double =
      if (f(a) < 0 || f(b) < 0) -1.0 else (f(b) - f(a)) / scale
    val total = (b.total - a.total).toDouble
    def share(f: Snap => Long): Double =
      if (total <= 0 || f(a) < 0 || f(b) < 0) -1.0 else (f(b) - f(a)) / total
    Map(
      "wall_s" -> (b.wallNs - a.wallNs) / 1e9,
      "other_cpu_share" -> (if (total <= 0 || a.self < 0) -1.0 else
        math.max(0.0, (b.busy - a.busy) - (b.self - a.self)) / total),
      "iowait_steal_share" -> share(_.iowStl),
      "psi_cpu_some_ms" -> d(_.psiCpu, 1e3),
      "psi_io_some_ms" -> d(_.psiIo, 1e3),
      "psi_mem_some_ms" -> d(_.psiMem, 1e3),
      "gc_s" -> d(_.gcMs, 1e3),
      "cpu_s" -> d(_.cpuNs, 1e9),
      "jit_ms" -> d(_.jitMs, 1.0))
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
        .getOrElse(-1.0)
    } catch { case _: Exception => -1.0 }
}
