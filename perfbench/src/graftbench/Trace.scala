package graftbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{BenchInternals, SparkSession}

/** One timed interval. `parent` is the enclosing span's id (-1 at a root);
  * every span of one request carries that request's id. */
final case class Span(id: Int, name: String, parent: Int, request: String,
                      startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/**
 * In-memory span recorder. Spans are opened around calls the benchmark
 * makes into the program's public functions; nothing inside the program is
 * instrumented. Written out once, at the end of the run.
 */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var requestId = ""

  def request[T](id: String)(body: => T): T = {
    requestId = id
    try span("request")(body) finally requestId = ""
  }

  def span[T](name: String)(body: => T): T = {
    val id = spans.length
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, requestId, System.nanoTime(), 0L)
    stack = id :: stack
    try body finally {
      stack = stack.tail
      spans(id) = spans(id).copy(endNs = System.nanoTime())
    }
  }

  def all: Seq[Span] = spans.toSeq

  /** Per span: its duration minus the part its children cover. */
  def selfSeconds: Map[Int, Double] = {
    val childTime = mutable.Map.empty[Int, Long].withDefaultValue(0L)
    spans.foreach(s => if (s.parent >= 0) childTime(s.parent) += s.endNs - s.startNs)
    spans.map(s => s.id -> (s.endNs - s.startNs - childTime(s.id)) / 1e9).toMap
  }

  /** Total self time per span name. */
  def selfByName: Map[String, Double] = {
    val self = selfSeconds
    spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
  }

  def write(path: String): Unit = {
    val self = selfSeconds
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val rows = spans.map(s => Map(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
      "start_s" -> (s.startNs - t0) / 1e9, "end_s" -> (s.endNs - t0) / 1e9,
      "self_s" -> self(s.id)))
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.write(Json(rows)) finally w.close()
  }
}

/**
 * CPU time a request costs: the calling thread's CPU plus the executor CPU
 * of every Spark task, in ns. Thread CPU excludes time the hypervisor
 * steals, and JIT, GC and Spark's background threads are left out, so this
 * stays put when a steal episode stretches the wall clock. Registered in
 * every run; it only adds one counter per finished task.
 */
final class RequestCpu extends SparkListener {
  private val taskNs = new java.util.concurrent.atomic.AtomicLong

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskMetrics != null) taskNs.addAndGet(e.taskMetrics.executorCpuTime)

  /** The running total, once every queued task event is counted. */
  def nowNs(spark: SparkSession): Long = {
    BenchInternals.drainListenerBus(spark)
    java.lang.management.ManagementFactory.getThreadMXBean.getCurrentThreadCpuTime + taskNs.get
  }
}

/** Task and job counters of one job group. */
final class GroupCounters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var outBytes = 0L
  var outRecords = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def maxOverMedian: Double = GroupCounters.maxOverMedian(taskMs.toSeq)
}

object GroupCounters {
  /** Slowest task over the median task (0 without tasks): the skew. */
  def maxOverMedian(taskMs: Seq[Long]): Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.length / 2))
    }
}

/**
 * SparkListener that aggregates task metrics per job group. The benchmark
 * sets the job group around each call it makes, so the group names the
 * query or pipeline layer that caused the work. Registered only in the
 * traced run.
 */
final class GroupListener extends SparkListener {
  private val stageGroup = mutable.Map.empty[Int, String]
  private val groups = mutable.Map.empty[String, GroupCounters]

  private def group(name: String): GroupCounters =
    groups.getOrElseUpdate(name, new GroupCounters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("(none)")
    group(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageGroup.get(e.stageInfo.stageId).foreach(group(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val g = group(stageGroup.getOrElse(e.stageId, "(none)"))
    g.tasks += 1
    g.taskMs += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      g.runMs += m.executorRunTime
      g.cpuNs += m.executorCpuTime
      g.gcMs += m.jvmGCTime
      g.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
      g.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      g.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      g.outBytes += m.outputMetrics.bytesWritten
      g.outRecords += m.outputMetrics.recordsWritten
    }
  }

  /** Counters of every group, after all queued events are delivered. */
  def snapshot(spark: SparkSession): Map[String, GroupCounters] = {
    BenchInternals.drainListenerBus(spark)
    synchronized(groups.toMap)
  }
}

object Host {
  /** (steal, total) jiffies of the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try {
      val f = src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.take(8).sum)
    } finally src.close()
  }

  def stealPct(from: (Long, Long), to: (Long, Long)): Double = {
    val total = to._2 - from._2
    if (total <= 0) 0.0 else 100.0 * (to._1 - from._1) / total
  }

  /** Driver heap in use after a full collection, in MiB: the least of
    * three collections, so garbage that background threads (listener bus,
    * context cleaner) release between them is not counted. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (0 until 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }

  def jvmStartMs: Long = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  /** CPU seconds of every thread of this JVM so far (JIT and GC included). */
  def processCpuS: Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** (result, wall seconds, process CPU seconds) of `body`. */
  def timedCpu[T](body: => T): (T, Double, Double) = {
    val c0 = processCpuS
    val (r, s) = timed(body)
    (r, s, processCpuS - c0)
  }

  /** Runs `body(0)` .. `body(n - 1)` on `n` threads at once and waits for
    * all of them. */
  def onThreads(n: Int)(body: Int => Unit): Unit = {
    val threads = (0 until n).map(i => new Thread(() => body(i), s"graftbench-$i"))
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  /** Classes Spark's code generator has compiled in this JVM so far. */
  def codegenCompiles: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def deleteTree(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteTree)
    f.delete()
  }

  /** (data files, their bytes) under `root`: hidden and `_`-marker files
    * (checksums, _SUCCESS, commit markers) are not counted. */
  def dataFiles(root: java.io.File): (Long, Long) = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f)
    val fs = walk(root)
    (fs.length.toLong, fs.map(_.length).sum)
  }
}
