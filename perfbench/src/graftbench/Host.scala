package graftbench

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** What else the host did while a run measured: load averages, steal time
  * and CPU used by other processes. Diagnostics for explaining a drift
  * between two sets of runs; never a metric. */
object Host {
  final case class Snap(loadavg: String, busyTicks: Long, stealTicks: Long, ownTicks: Long)

  private def read(p: String): String =
    try new String(Files.readAllBytes(Paths.get(p)), "UTF-8") catch { case _: Exception => "" }

  def snap(): Snap = {
    // cpu  user nice system idle iowait irq softirq steal guest guest_nice
    val cpu = read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map(_.split("\\s+").drop(1).map(_.toLong))
      .getOrElse(Array.fill(10)(0L))
    val busy = cpu(0) + cpu(1) + cpu(2) + cpu(5) + cpu(6)
    // /proc/self/stat: fields after the parenthesised name; utime, stime are 14, 15
    val self = read("/proc/self/stat")
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    val own = if (f.length > 12) f(11).toLong + f(12).toLong else 0L
    Snap(read("/proc/loadavg").trim.split(" ").take(3).mkString(" "), busy, if (cpu.length > 7) cpu(7) else 0L, own)
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  /** JSON record of the timed window between `a` and `b`. */
  def record(a: Snap, b: Snap, cores: Int): String = {
    val hz = 100.0 // USER_HZ
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filterNot(_.startsWith("--add-opens")).map(s => "\"" + s.replace("\\", "\\\\").replace("\"", "'") + "\"")
    s"""{"nproc":$cores,"loadavg_before":"${a.loadavg}","loadavg_after":"${b.loadavg}",""" +
      s""""steal_s":${(b.stealTicks - a.stealTicks) / hz},""" +
      s""""other_process_cpu_s":${((b.busyTicks - a.busyTicks) - (b.ownTicks - a.ownTicks)) / hz},""" +
      s""""own_cpu_s":${(b.ownTicks - a.ownTicks) / hz},"jvm_flags":[${flags.mkString(",")}]}"""
  }
}
