package graft

import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** Operational telemetry: the one measured-run core that Bench's rows,
  * `graft.Probe` and the phase log all time through ([[measure]]), and the
  * process, JVM and box readers behind it.
  */
object Telemetry {

  /** One measured region's cost on every channel. Per-region deltas of
    * JVM-wide or box-wide counters, so each also counts whatever ran
    * beside the region.
    *  - `wallSec`: wall-clock seconds.
    *  - `gcMs`: collection time across all collector beans — whether a
    *    region's wall time is GC time.
    *  - `ioReadMb`, `ioWriteMb`, `ioCancelledWriteMb`: storage-layer bytes
    *    (`/proc/self/io`; a page-cache hit reads 0, and cancelled writes
    *    are truncated scratch that never hit disk) — cold page cache and
    *    writeback, by data.
    *  - `allocMb`: bytes allocated by live JVM threads — "the region
    *    allocated more" (moves with wall) versus "the same allocations
    *    collected slower" (flat). A thread that dies inside the region
    *    takes its counter along; Spark's pools are long-lived.
    *  - `boxCpuSec`, `boxIowaitSec`: whole-box busy and iowait CPU
    *    (`/proc/stat`); `selfCpuSec`: this process's CPU
    *    (`/proc/self/stat`). Box minus self is everyone else on the
    *    machine during the region.
    *  - `shuffleReadMb`, `shuffleWriteMb`: shuffle bytes of the stages
    *    that completed in the region — measured, where local shuffle
    *    reads can be page-cache hits `/proc` never sees.
    *  - `compiles`: Janino compiles ([[codegenCompiles]]); a steady run
    *    that compiles is paying code generation again.
    * A counter that is unavailable (no `/proc`, no `com.sun` thread bean)
    * reads 0.
    */
  final case class Channels(wallSec: Double, gcMs: Long, ioReadMb: Double,
      ioWriteMb: Double, ioCancelledWriteMb: Double, allocMb: Double,
      boxCpuSec: Double, boxIowaitSec: Double, selfCpuSec: Double,
      shuffleReadMb: Double, shuffleWriteMb: Double, compiles: Long) {

    /** The channels as one JSON object, keyed by Bench's artifact names. */
    def json: String = Seq("wall_sec" -> wallSec, "gc_ms" -> gcMs,
        "io_read_mb" -> ioReadMb, "io_write_mb" -> ioWriteMb,
        "io_cancelled_write_mb" -> ioCancelledWriteMb, "alloc_mb" -> allocMb,
        "box_cpu_sec" -> boxCpuSec, "box_iowait_sec" -> boxIowaitSec,
        "self_cpu_sec" -> selfCpuSec, "shuffle_read_mb" -> shuffleReadMb,
        "shuffle_write_mb" -> shuffleWriteMb, "codegen_compiles" -> compiles)
      .map { case (k, v) => s"\"$k\":$v" }.mkString("{", ",", "}")
  }

  /** A [[measure]]d body threw `getCause`; `channels` holds the region up
    * to the throw.
    */
  final class RegionFailed(val channels: Channels, cause: Throwable)
    extends RuntimeException(cause.getMessage, cause)

  /** Run `body` and return its result with the [[Channels]] of the run.
    * A body that throws is rethrown as [[RegionFailed]], which carries the
    * channels. The shuffle channels read the active session's context
    * (or the default one); without a live context they read 0.
    */
  def measure[T](body: => T): (T, Channels) = {
    val sc = SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext).filterNot(_.isStopped)
    sc.foreach(tap)
    val g0 = gcMs()
    val io0 = procSelfIo("read_bytes")
    val wr0 = procSelfIo("write_bytes")
    val cw0 = procSelfIo("cancelled_write_bytes")
    val al0 = allocatedBytes()
    val (bc0, bw0) = procStatCpu()
    val sc0 = procSelfCpu()
    val sr0 = shuffleRead.get(); val sw0 = shuffleWrite.get()
    val cg0 = codegenCompiles()
    val t0 = System.nanoTime()
    val result = try Right(body) catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val compiles = codegenCompiles() - cg0
    val (bc1, bw1) = procStatCpu()
    // listener events drain asynchronously; give trailing stage
    // completions a beat so the shuffle deltas land in THIS region
    sc.foreach(org.apache.spark.sql.graftbridge.Bridge.drainListenerBus(_))
    def mb(d: Long) = math.max(0L, d) / 1e6
    def sec(jiffies: Long) = math.max(0L, jiffies) / 100.0 // USER_HZ = 100
    val ch = Channels(wall, gcMs() - g0,
      mb(procSelfIo("read_bytes") - io0),
      mb(procSelfIo("write_bytes") - wr0),
      mb(procSelfIo("cancelled_write_bytes") - cw0),
      mb(allocatedBytes() - al0),
      sec(bc1 - bc0), sec(bw1 - bw0), sec(procSelfCpu() - sc0),
      mb(shuffleRead.get() - sr0), mb(shuffleWrite.get() - sw0), compiles)
    result match {
      case Right(r) => (r, ch)
      case Left(e) => throw new RegionFailed(ch, e)
    }
  }

  /** Run `body`; when SPARK_GRAFT_PHASE_LOG is set, [[measure]] it and
    * print its wall-clock time and the classes it compiled to stderr as
    * `[prefix] phase=name sec=… compiles=…` — for sizing a resident
    * process (which phase pays for a fatter batch) and for attributing a
    * bench row's composite timing to its phases. Unset, it runs `body`
    * with no measurement at all.
    */
  def phase[T](prefix: String, name: String)(body: => T): T =
    if (sys.env.contains("SPARK_GRAFT_PHASE_LOG")) {
      val (r, ch) = try measure(body)
        catch { case f: RegionFailed => throw f.getCause }
      System.err.println(
        f"[$prefix%s] phase=$name%s sec=${ch.wallSec}%.2f compiles=${ch.compiles}")
      r
    } else body

  /** Janino compiles this JVM has made so far: one per generated-class
    * cache miss, counted by Spark's `CodegenMetrics`. JVM-wide, so a delta
    * over a region also counts whatever ran beside it.
    */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Used heap, MB. */
  private[graft] def heapMb(): Double =
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1e6

  /** 1-minute load average — the cheapest "was the box busy" reading.
    * -1 where /proc is missing.
    */
  private[graft] def loadAvg1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split(" ")(0).toDouble
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** System-wide dirty page-cache KB (`/proc/meminfo` `Dirty:`) — the
    * writeback backlog other processes left behind. -1 where
    * /proc/meminfo is unavailable.
    */
  private[graft] def dirtyKb(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/meminfo")
      try src.getLines().collectFirst {
        case l if l.startsWith("Dirty:") => l.split("\\s+")(1).toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  private def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }

  private val threadMx = java.lang.management.ManagementFactory.getThreadMXBean

  /** Cumulative bytes allocated by all live JVM threads; -1 where the JDK
    * doesn't expose the `com.sun` extension.
    */
  private def allocatedBytes(): Long = threadMx match {
    case tm: com.sun.management.ThreadMXBean =>
      try {
        if (!tm.isThreadAllocatedMemoryEnabled)
          tm.setThreadAllocatedMemoryEnabled(true)
        tm.getThreadAllocatedBytes(tm.getAllThreadIds).filter(_ > 0L).sum
      } catch { case _: Throwable => -1L }
    case _ => -1L
  }

  /** Whole-box CPU jiffies from `/proc/stat`'s aggregate `cpu` line:
    * (busy = user+nice+system+irq+softirq+steal, iowait). (-1, -1) where
    * /proc is missing.
    */
  private def procStatCpu(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().collectFirst {
        case l if l.startsWith("cpu ") =>
          val f = l.trim.split("\\s+").drop(1).map(_.toLong)
          // user nice system idle iowait irq softirq steal
          val busy = f(0) + f(1) + f(2) +
            (if (f.length > 5) f(5) else 0L) +
            (if (f.length > 6) f(6) else 0L) +
            (if (f.length > 7) f(7) else 0L)
          (busy, if (f.length > 4) f(4) else 0L)
      }.getOrElse((-1L, -1L))
      finally src.close()
    } catch { case _: Throwable => (-1L, -1L) }

  /** This process's own CPU jiffies (utime+stime from `/proc/self/stat`,
    * fields 14–15 — parsed after the last ')' because comm may contain
    * spaces). -1 where /proc is missing.
    */
  private def procSelfCpu(): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/stat")
      try {
        val line = src.getLines().next()
        val rest = line.substring(line.lastIndexOf(')') + 2).split(" ")
        // rest(0) is field 3 (state); utime = field 14 → rest(11)
        rest(11).toLong + rest(12).toLong
      } finally src.close()
    } catch { case _: Throwable => -1L }

  /** One cumulative counter of `/proc/self/io`; -1 where it is missing. */
  private def procSelfIo(field: String): Long =
    try {
      val src = scala.io.Source.fromFile("/proc/self/io")
      try src.getLines().collectFirst {
        case l if l.startsWith(field + ":") => l.split(":\\s*")(1).trim.toLong
      }.getOrElse(-1L)
      finally src.close()
    } catch { case _: Throwable => -1L }

  /** Cumulative shuffle read/write bytes across completed stages, fed by
    * one [[ShuffleTap]] on the context [[measure]] last saw.
    */
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val tapped = new AtomicReference[SparkContext]()

  private def tap(sc: SparkContext): Unit = {
    val prev = tapped.get
    if ((prev ne sc) && tapped.compareAndSet(prev, sc))
      sc.addSparkListener(new ShuffleTap)
  }

  private class ShuffleTap extends org.apache.spark.scheduler.SparkListener {
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
      val m = sc.stageInfo.taskMetrics
      if (m != null) {
        shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }
}
