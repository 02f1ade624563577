package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Host readings recorded as they are: hypervisor steal ticks and the
  * load average from /proc, and this process's peak resident set. */
object Host {
  /** Cumulative steal ticks (USER_HZ) over all CPUs; -1 where /proc is
    * not readable. */
  def stealTicks(): Long =
    try Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+")(8).toLong
    catch { case _: Exception => -1L }

  def loadAverage(): Seq[Double] =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3)
      .toSeq.map(_.toDouble)
    catch { case _: Exception => Seq.empty }

  def sample(): Map[String, Any] =
    Map("steal_ticks" -> stealTicks(), "load_avg" -> loadAverage())

  /** VmHWM of this process in MB; -1 where /proc is not readable. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }
}
