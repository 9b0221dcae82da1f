package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** State of one benchmark run: the session, the samples the workload
  * takes, the operations it attempted and the ones that failed. */
final class Ctx(val spark: SparkSession, val seed: Long,
                val traced: Boolean, val dataDir: String, val workDir: String) {
  val tracer = new Tracer(traced)
  val probe: Option[SparkProbe] = if (traced) Some(new SparkProbe().attach(spark)) else None
  val windows = mutable.ArrayBuffer[Window]()
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  var attempted = 0
  var failed = 0
  val failures = mutable.ArrayBuffer[String]()

  def add(metric: String, v: Double): Unit = samples.getOrElseUpdate(metric, mutable.ArrayBuffer()) += v
  /** Records a cost as `<metric>.wall_ms` and `<metric>.cpu_ms`. */
  def add(metric: String, c: Cost): Unit = {
    add(s"$metric.wall_ms", c.wallMs)
    add(s"$metric.cpu_ms", c.cpuMs)
  }
  def values(metric: String): Seq[Double] = samples.get(metric).map(_.toSeq).getOrElse(Nil)

  /** Runs one operation of `kind` as a traced request and records its
    * window. Returns the result and its cost, or None when it threw
    * (which counts as a failed operation). */
  def op[A](kind: String, name: String)(body: => A): Option[(A, Cost)] = {
    attempted += 1
    if (windowStarted) add("speed.sample_ms", Speed.sampleMs())
    val c0 = Clock.threadCpu()
    val t0 = Clock.ms()
    val r = try Some(tracer.request(name)(body)) catch {
      case e: Exception =>
        fail(s"$name threw ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}")
        None
    }
    val t1 = Clock.ms()
    val cost = Cost(t1 - t0, Clock.cpuMsSince(c0))
    windows += Window(kind, t0, t1)
    val (jit, gc, gcs) = Host.jvmWork()
    System.err.println(f"[perfbench] $name ${cost.wallMs}%.1f ms wall ${cost.cpuMs}%.1f ms cpu (jit $jit ms, gc $gc ms in $gcs, so far)")
    r.map(a => (a, cost))
  }

  /** An output check: one attempted operation that fails when `ok` is false. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) fail(what)
  }

  private var windowStarted = false

  /** JIT and GC totals when the warm-up ended. */
  var jvmAtStart: (Long, Long, Long) = Host.jvmWork()

  /** JIT and GC work, the heap peak and the speed samples (one before
    * each operation) count from here: the workloads call it when their
    * warm-up is over. */
  def startWindow(): Unit = {
    windowStarted = true
    jvmAtStart = Host.jvmWork()
    Host.resetHeapPeak()
  }

  private def fail(msg: String): Unit = {
    failed += 1
    if (failures.size < 20) failures += msg
    System.err.println(s"[perfbench] FAILED: $msg")
  }

}

/** What an operation cost, in ms: its wall-clock latency and the CPU
  * time the process's Java threads spent while it ran ([[Clock.cpuMsSince]]). */
final case class Cost(wallMs: Double, cpuMs: Double) {
  def +(o: Cost): Cost = Cost(wallMs + o.wallMs, cpuMs + o.cpuMs)
}

object Cost {
  val Zero: Cost = Cost(0, 0)
}
