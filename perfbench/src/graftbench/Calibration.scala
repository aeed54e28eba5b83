package graftbench

import java.lang.management.ManagementFactory

/**
 * A fixed amount of plain JVM work, measured in thread CPU time: hashing
 * boxed string keys, sorting longs and dot products over double vectors,
 * on `threads` threads at once. None of it calls the program, so its cost
 * changes only with the host: on a shared VM the same instructions take
 * more CPU time while co-tenants load the machine. The timed loops take
 * `PerGap` samples before every timed request or pass and after the last,
 * and `perfbench/run.py` scales the CPU metrics by their median.
 */
object Calibration {

  /** Samples taken in each gap between timed requests. */
  val PerGap = 4

  /** Untimed samples that bring this code to steady state first. */
  def warmUp(threads: Int): Unit = (0 until 6).foreach(_ => sampleMs(threads))

  /** `PerGap` samples. */
  def gap(threads: Int): Seq[Double] = (0 until PerGap).map(_ => sampleMs(threads))

  @volatile private var sink = 0L

  private def work(seed: Long): Long = {
    val rnd = new java.util.SplittableRandom(seed)
    val counts = new java.util.HashMap[String, java.lang.Long]()
    var i = 0
    while (i < 150000) {
      counts.merge("k" + rnd.nextInt(50000), 1L, (x: java.lang.Long, y: java.lang.Long) => x + y)
      i += 1
    }
    val xs = Array.fill(300000)(rnd.nextLong())
    java.util.Arrays.sort(xs)
    val dim = 256
    val vs = Array.fill(400)(Array.fill(dim)(rnd.nextDouble()))
    var dot = 0.0
    var a = 0
    while (a < vs.length) {
      var b = a + 1
      while (b < vs.length) {
        var s = 0.0
        var k = 0
        while (k < dim) { s += vs(a)(k) * vs(b)(k); k += 1 }
        dot += s
        b += 1
      }
      a += 1
    }
    counts.size + xs(xs.length / 2) + dot.toLong
  }

  /** Thread CPU milliseconds of `threads` threads, each doing the work once. */
  def sampleMs(threads: Int): Double = {
    val bean = ManagementFactory.getThreadMXBean
    val ns = new java.util.concurrent.atomic.AtomicLong
    Host.onThreads(threads) { i =>
      val t0 = bean.getCurrentThreadCpuTime
      sink += work(i)
      ns.addAndGet(bean.getCurrentThreadCpuTime - t0)
    }
    ns.get / 1e6
  }
}
