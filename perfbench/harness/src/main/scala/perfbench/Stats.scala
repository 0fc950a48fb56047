package perfbench

/** Maps `System.nanoTime` readings onto the epoch-millisecond clock that
  * Spark's listener events and streaming progress use. */
final class Clock {
  private val baseMs = System.currentTimeMillis().toDouble - System.nanoTime() / 1e6
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def epochMs(nanos: Long): Double = baseMs + nanos / 1e6
  def nowMs: Double = epochMs(System.nanoTime())
  /** CPU time this process has used, all threads, in milliseconds. */
  def cpuMs: Double = os.getProcessCpuTime / 1e6
  private val jit = java.lang.management.ManagementFactory.getCompilationMXBean
  /** Time the JIT compiler threads have spent compiling, in milliseconds
    * (elapsed time summed over those threads, as the JVM reports it). */
  def compileMs: Double = jit.getTotalCompilationTime.toDouble
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
