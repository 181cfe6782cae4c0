package perfbench

import java.lang.management.ManagementFactory

/** Order statistics over a sample, with the same interpolation as Python's
  * `statistics.quantiles(method="exclusive")` for the quartiles, so the
  * numbers printed here match what a reader recomputes from the series.
  */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted.toIndexedSeq
    if (s.size == 1) return s.head
    // exclusive method: position q * (n + 1), 1-based, clamped to the ends
    val pos = q * (s.size + 1)
    if (pos <= 1) s.head
    else if (pos >= s.size) s.last
    else {
      val lo = pos.floor.toInt
      s(lo - 1) + (pos - lo) * (s(lo) - s(lo - 1))
    }
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

/** Clocks: wall time, CPU time and heap. */
object Clock {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  // HotSpot's CPU time of its internal threads (GC workers, JIT compilers,
  // the VM thread), by thread name. The package is not exported: run.py
  // starts the JVM with --add-exports java.management/sun.management.
  private val internalCpuTimes: () => java.util.Map[String, java.lang.Long] = {
    val bean = Class.forName("sun.management.ManagementFactoryHelper")
      .getMethod("getHotspotThreadMBean").invoke(null)
    val m = Class.forName("sun.management.HotspotThreadMBean")
      .getMethod("getInternalThreadCpuTimes")
    () => m.invoke(bean).asInstanceOf[java.util.Map[String, java.lang.Long]]
  }

  def wallS: Double = System.nanoTime() / 1e9

  private val nanoBase = System.nanoTime()
  private val epochBase = System.currentTimeMillis().toDouble

  /** Epoch milliseconds with nanosecond resolution: the clock of Spark's
    * listener events, read through the monotonic timer.
    */
  def epochMs: Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  /** CPU seconds the process has used so far, less the CPU of the JVM's
    * internal threads (GC and JIT). It keeps the CPU of threads that ended
    * in between (request pools, streaming query threads), which a sum over
    * live threads would drop. GC and JIT are left out because in a short
    * run their share is large and varies from run to run, which made
    * whole-process CPU time the least steady CPU measure. The JVM runs
    * with a fixed set of compiler threads, so none of them exits.
    */
  def cpuS: Double = {
    var internal = 0L
    internalCpuTimes().values.forEach(t => if (t > 0) internal += t)
    (os.getProcessCpuTime - internal) / 1e9
  }

  /** Heap still used after forced collections: what the run retained. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    for (_ <- 1 to 3) { System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Host calibration: million splitmix64 mix-ops per second on one thread
  * and summed over `threads` concurrent threads. Reported as context next
  * to the timings, never used to rescale or drop samples.
  */
object Calib {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  // every spin result lands here, so the JIT cannot drop the timed loop
  @volatile private var blackhole: Long = 0L

  private def spin(n: Long, seed: Long): Long = {
    var acc = seed; var i = 0L
    while (i < n) { acc = mix(acc ^ i); i += 1 }
    blackhole ^= acc
    acc
  }

  def run(threads: Int, n: Long = 30_000_000L): (Double, Double) = {
    spin(n / 10, 1)
    val t1 = System.nanoTime()
    spin(n, 2)
    val oneT = n / ((System.nanoTime() - t1) / 1e9) / 1e6
    val t2 = System.nanoTime()
    val ws = (0 until threads).map { i =>
      val t = new Thread(() => { spin(n, i + 3L); () }); t.start(); t
    }
    ws.foreach(_.join())
    val par = n.toDouble * threads / ((System.nanoTime() - t2) / 1e9) / 1e6
    (oneT, par)
  }
}

/** Just enough JSON writing for the result file (no parser needed). */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
