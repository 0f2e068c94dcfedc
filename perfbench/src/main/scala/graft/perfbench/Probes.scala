package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Process and box counters read at pass boundaries: CPU from
  * /proc/self/stat and /proc/stat, disk bytes from /proc/self/io, GC time
  * and heap allocation from the JVM's management beans.
  */
object Probes {
  final case class Sample(wallNs: Long, ownCpuS: Double, boxCpuS: Double,
      gcS: Double, allocMb: Double, readMb: Double, writeMb: Double) {
    def minus(o: Sample): Sample = Sample(wallNs - o.wallNs,
      ownCpuS - o.ownCpuS, boxCpuS - o.boxCpuS, gcS - o.gcS,
      allocMb - o.allocMb, readMb - o.readMb, writeMb - o.writeMb)
  }

  private val clkTck = 100.0 // USER_HZ on Linux

  private def read(path: String): String =
    try Files.readString(Paths.get(path)) catch { case _: java.io.IOException => "" }

  /** utime + stime of this process, seconds. */
  def ownCpu(): Double = {
    val s = read("/proc/self/stat")
    // fields after the parenthesised command name; utime/stime are 14/15
    val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
    if (f.length < 13) 0.0 else (f(11).toLong + f(12).toLong) / clkTck
  }

  /** Busy CPU seconds of the whole box (all but idle and iowait). */
  def boxCpu(): Double =
    read("/proc/stat").linesIterator.find(_.startsWith("cpu ")).map { l =>
      val v = l.split("\\s+").drop(1).map(_.toLong)
      (v.sum - v(3) - (if (v.length > 4) v(4) else 0L)) / clkTck
    }.getOrElse(0.0)

  private def ioField(name: String): Double =
    read("/proc/self/io").linesIterator.find(_.startsWith(name + ":"))
      .map(_.split(":")(1).trim.toLong / 1e6).getOrElse(0.0)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  def allocatedMb(): Double = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean if t.isThreadAllocatedMemorySupported =>
      t.getThreadAllocatedBytes(t.getAllThreadIds).filter(_ > 0).sum / 1e6
    case _ => 0.0
  }

  def sample(): Sample = Sample(System.nanoTime(), ownCpu(), boxCpu(),
    gcSeconds(), allocatedMb(), ioField("read_bytes"), ioField("write_bytes"))

  /** Peak resident set size of this process, MB (VmHWM). */
  def peakRssMb(): Double =
    read("/proc/self/status").linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)

  /** Bytes and regular files under `dir` (0, 0 when it does not exist). */
  def du(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
  }
}
