package graft.perfbench

import scala.collection.mutable

/** One timed interval. `parent` is the id of the span that caused it
  * (-1 for a root); spans of one request share `request`. Times are
  * epoch milliseconds with sub-millisecond fraction. */
final case class Span(id: Int, name: String, start: Double, end: Double,
                      parent: Int, request: Int) {
  def duration: Double = end - start
}

/** In-memory span recorder. Spans are kept until the run ends and then
  * written out in one piece, so recording costs one buffer append. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var nextId = 0
  private val stack = mutable.Stack[Int]()
  private var request = -1

  /** Times `body` as a span named `name` under the innermost open span. */
  def span[A](name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = synchronized { nextId += 1; nextId }
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = Clock.ms()
      try body
      finally {
        val t1 = Clock.ms()
        stack.pop()
        synchronized { spans += Span(id, name, t0, t1, parent, request) }
      }
    }

  /** Opens a new request: spans until the next call share its id. */
  def request[A](name: String)(body: => A): A = {
    request += 1
    span(name)(body)
  }

  def all: Seq[Span] = synchronized(spans.toList)
}

/** Wall clock with sub-millisecond resolution that stays comparable to
  * Spark's listener timestamps (epoch milliseconds). */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val threads = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  /** CPU time so far of every live Java thread, in ns, by thread id. */
  def threadCpu(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** CPU time the process's Java threads spent since `from`, in ms: the
    * engine, Spark's local executors, the HTTP client and server. Linux
    * charges a thread only for the time it ran, so the time it waited for
    * a CPU, held by another process or given by the hypervisor to another
    * machine (steal), is not counted. The JVM's own JIT compiler and GC
    * threads are not Java threads and are not counted either: their work
    * lands on whichever request happens to be running (`jvm.*` metrics
    * report it). A thread that ends in between loses its share. */
  def cpuMsSince(from: Map[Long, Long]): Double =
    threadCpu().map { case (id, ns) => ns - from.getOrElse(id, 0L) }.sum / 1e6
}

object SelfTime {

  /** Total length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curStart = Double.NaN
    var curEnd = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curStart.isNaN) { curStart = a; curEnd = b }
      else if (a <= curEnd) curEnd = math.max(curEnd, b)
      else { total += curEnd - curStart; curStart = a; curEnd = b }
    }
    if (!curStart.isNaN) total += curEnd - curStart
    total
  }

  /** A span's self time: its duration minus the part of its interval
    * covered by its children. Overlapping children (concurrent Spark
    * jobs) are counted once. */
  def of(span: Span, children: Seq[Span]): Double =
    span.duration - unionLength(children.map(c => (c.start, c.end)), span.start, span.end)

  /** name → (count, total ms, self ms) over every span. */
  def byName(spans: Seq[Span]): Map[String, (Int, Double, Double)] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ((ss.size, ss.map(_.duration).sum, ss.map(s => of(s, kids.getOrElse(s.id, Nil))).sum))
    }
  }
}
