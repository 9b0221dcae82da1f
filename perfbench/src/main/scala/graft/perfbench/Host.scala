package graft.perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.jdk.CollectionConverters._

/** What else the machine was doing around a run. */
object Host {

  /** (total, idle, steal) jiffies from the first line of /proc/stat. */
  def cpuTicks(): Option[(Long, Long, Long)] =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
      finally src.close()
      Some((f.sum, f(3) + f(4), f(7)))
    } catch { case _: Exception => None }

  /** Busy share of all CPUs between two samples; -1 when unreadable. */
  def busyBetween(a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)]): Double =
    (a, b) match {
      case (Some((t0, i0, _)), Some((t1, i1, _))) if t1 > t0 => 1.0 - (i1 - i0).toDouble / (t1 - t0)
      case _ => -1.0
    }

  /** Share of all CPU time the hypervisor gave to other machines between
    * two samples: contention this run could not see otherwise. */
  def stealBetween(a: Option[(Long, Long, Long)], b: Option[(Long, Long, Long)]): Double =
    (a, b) match {
      case (Some((t0, _, s0)), Some((t1, _, s1))) if t1 > t0 => (s1 - s0).toDouble / (t1 - t0)
      case _ => -1.0
    }

  /** Busy share over a short quiet sample: the load other processes put
    * on the machine while this one waits. */
  def busyNow(ms: Long = 300): Double = {
    val a = cpuTicks(); Thread.sleep(ms); busyBetween(a, cpuTicks())
  }

  def loadAvg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split("\\s+").take(3).mkString(" ") finally src.close()
    } catch { case _: Exception => "" }

  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())

  /** Sum of the heap pools' peak use since the last reset, in MB. */
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** (JIT compile ms, GC ms, GC count) since the JVM started. */
  def jvmWork(): (Long, Long, Long) = {
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (ManagementFactory.getCompilationMXBean.getTotalCompilationTime,
      gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)
  }

  def maxHeapMb(): Double = Runtime.getRuntime.maxMemory() / (1024.0 * 1024.0)
}

/** How fast the machine runs. On a shared virtual machine the work a CPU
  * second buys moves by tens of percent from minute to minute (the host's
  * other tenants share the physical cores and their clock), and CPU time
  * moves with it. A fixed reference loop, timed before each measured
  * operation, measures that speed; a run's CPU times are rescaled by the
  * median of its samples to what they would be at the reference speed. */
object Speed {
  /** CPU ms the reference loop takes at the reference speed: a fixed
    * constant, near what it took on the quiet 4-core x86 virtual machine
    * the benchmark was sized on. */
  val RefMs = 6.0
  private val Iters = 4000000
  private val buf = Array.tabulate(1 << 13)(i => i.toLong * 0x9E3779B97F4A7C15L)
  @volatile private var sink = 0L
  private val threads = ManagementFactory.getThreadMXBean

  /** CPU ms the calling thread needs for the reference loop now: a chain
    * of dependent loads, xors and multiplies over a 64 KB table. */
  def sampleMs(): Double = {
    val t0 = threads.getCurrentThreadCpuTime
    var h = 1L
    var i = 0
    while (i < Iters) {
      h = (h ^ buf(i & 8191)) * 0x100000001B3L
      i += 1
    }
    sink += h
    (threads.getCurrentThreadCpuTime - t0) / 1e6
  }

  /** Runs the loop until the JIT has compiled it. */
  def warmUp(): Unit = (1 to 40).foreach(_ => sampleMs())
}
