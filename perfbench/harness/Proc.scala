package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

/** Process and machine readings from /proc and the JVM's management beans.
  * Every reader returns -1 where the source is unreadable, so a consumer
  * never mistakes "unknown" for "zero". */
object Proc {
  /** Jiffies at USER_HZ = 100 (one jiffy = 10 ms): the machine's busy
    * time (every state but idle, iowait and steal), time the hypervisor
    * gave this machine's CPUs to someone else (steal), and this process. */
  final case class Cpu(busy: Long, steal: Long, self: Long)

  def cpu(): Cpu = {
    val (busy, steal) = Try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong).padTo(8, 0L)
      (f.take(8).sum - f(3) - f(4) - f(7), f(7))
    }.getOrElse((-1L, -1L))
    val self = Try {
      val s = Files.readString(Paths.get("/proc/self/stat"))
      // fields after the parenthesised command name; utime and stime are
      // the 14th and 15th fields of the line
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      f(11).toLong + f(12).toLong
    }.getOrElse(-1L)
    Cpu(busy, steal, self)
  }

  /** CPU ms other processes used between two readings; -1 if unknown. */
  def otherCpuMs(a: Cpu, b: Cpu): Long =
    if (Seq(a.busy, a.self, b.busy, b.self).exists(_ < 0)) -1L
    else math.max(0L, (b.busy - a.busy) - (b.self - a.self)) * 10L

  /** CPU ms stolen by the hypervisor between two readings; -1 if unknown. */
  def stealMs(a: Cpu, b: Cpu): Long =
    if (a.steal < 0 || b.steal < 0) -1L else (b.steal - a.steal) * 10L

  /** Other JVMs alive on the machine: "pid:main-class" for each. */
  def otherJvms(): Seq[String] = {
    val me = ProcessHandle.current().pid()
    val parent = ProcessHandle.current().parent().map[Long](_.pid()).orElse(-1L)
    Try(Files.list(Paths.get("/proc")).iterator().asScala.toList).getOrElse(Nil)
      .map(_.getFileName.toString).filter(_.forall(_.isDigit)).map(_.toLong)
      .filter(p => p != me && p != parent)
      .flatMap { pid =>
        Try(new String(Files.readAllBytes(Paths.get(s"/proc/$pid/cmdline")))
          .split('\u0000').toSeq).toOption
          .filter(a => a.headOption.exists(_.endsWith("java")))
          .map(a => s"$pid:${a.lastOption.getOrElse("")}".take(120))
      }
  }

  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb(): Double = Try {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).get.split("\\s+")(1).toDouble / 1024.0
  }.getOrElse(-1.0)

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  def jitMs(): Long = Option(ManagementFactory.getCompilationMXBean)
    .filter(_.isCompilationTimeMonitoringSupported)
    .map(_.getTotalCompilationTime).getOrElse(-1L)

  def codeCacheMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
    .map(_.getUsage.getUsed).sum / 1048576.0

  /** Bytes of the regular files under a directory (0 if absent). */
  def du(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
}
