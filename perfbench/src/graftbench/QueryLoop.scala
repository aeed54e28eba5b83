package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{BenchInternals, DataFrame, Row, SparkSession}
import graft.SparkEntry
import Main.{Args, Report, inGroup}

/**
 * The curation workload: one client thread in a closed loop, each request a
 * `SparkEntry.queries` call plus `collect`. A pass runs every query once, in
 * an order drawn from the seed; untimed passes, most of them concurrent,
 * warm the JVM up first.
 * Between requests (untimed) the result is compared with the query's first
 * result, the hygiene counters are read and the cache is cleared, so no
 * request gains from state an earlier one left behind.
 */
object QueryLoop {

  /** Candidate-pair joins, the centroid kernel and a web-graph query. */
  val Queries = Seq("q_dedup_jaccard", "q_tfidf_pairs", "q_semdedup", "q_pagerank")

  /** Timed passes an untraced run makes however short `--seconds` is: the
    * first pass after warm-up still costs a few percent more than later
    * ones, and the median of three leaves it out. */
  val MinPasses = 3

  /** The tables those queries read. */
  val Tables = Seq("documents", "embeddings")

  /** Order-insensitive canonical form of a result; doubles rounded to 9
    * decimals as the oracle check does. */
  def canon(rows: Array[Row]): Vector[String] = rows.map(value).sorted.toVector

  private def value(v: Any): String = v match {
    case null => "null"
    case d: Double =>
      if (d.isNaN || d.isInfinite) d.toString
      else new java.math.BigDecimal(d).setScale(9, java.math.RoundingMode.HALF_EVEN)
        .stripTrailingZeros.toPlainString
    case f: Float => value(f.toDouble)
    case r: Row => r.toSeq.map(value).mkString("(", ",", ")")
    case b: Array[Byte] => b.map("%02x".format(_)).mkString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => value(k) + "->" + value(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(value).mkString("[", ",", "]")
    case other => other.toString
  }

  /** Cached plans plus persisted RDDs other than local checkpoints. */
  def cacheEntries(spark: SparkSession): Int =
    BenchInternals.cachedPlans(spark) +
      spark.sparkContext.getPersistentRDDs.values.count(r => !BenchInternals.isLocalCheckpoint(r))

  def clearState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  def run(spark: SparkSession, a: Args, rep: Report, cpu: RequestCpu): Unit = {
    val sc = spark.sparkContext
    // set-up: open every table (schema from the footer), repeated so the
    // median is reported
    val opens = (0 until 3).map(_ => Host.timedCpu {
      Tables.foreach(t => spark.read.parquet(s"${a.data}/$t.parquet").schema)
    })
    rep("materialize_s") = opens.map(_._2)
    rep("materialize_cpu_s") = opens.map(_._3)
    rep("inputs") = Tables.map(t => t -> spark.read.parquet(s"${a.data}/$t.parquet").count()).toMap

    val reference = mutable.Map.empty[String, Vector[String]]
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val errors = mutable.Map.empty[String, String]
    val leftovers = mutable.Map.empty[String, Int].withDefaultValue(0)
    val phases = mutable.Map.empty[String, (Double, Double)].withDefaultValue((0.0, 0.0))

    // Warm-up requests run on several threads at once; `lock` guards the
    // shared records. Timed requests run on this thread alone.
    val lock = new Object

    /** One request. A `shared` one runs beside others: it neither reads the
      * hygiene counters nor clears the cache, which would unpersist the
      * local checkpoints of the requests running beside it. */
    def request(q: String, pass: Int, tracer: Option[Tracer], shared: Boolean = false): Unit = {
      def span[T](n: String)(b: => T): T = tracer.fold(b)(_.span(n)(b))
      // job groups only in traced passes, so the listener sees those alone
      def group[T](g: String)(b: => T): T = if (tracer.isDefined) inGroup(spark, g)(b) else b
      val cpu0 = cpu.nowNs(spark)
      val t0 = System.nanoTime()
      val out = try {
        val df: DataFrame = group(s"$q/call") {
          span("SparkEntry.call")(SparkEntry.queries(q)(spark, a.data))
        }
        val rows = group(s"$q/action")(span("collect")(df.collect()))
        Right((df, rows))
      } catch { case e: Throwable => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      val cpuMs = (cpu.nowNs(spark) - cpu0) / 1e6
      val ok = try out match {
        case Left(e) =>
          lock.synchronized(errors(q) = e.toString.take(300))
          false
        case Right((df, rows0)) =>
          val rows = if (a.injectWrong) rows0.dropRight(1) else rows0
          val c = canon(rows)
          val tr = df.queryExecution.tracker.phases
          def phase(p: String) = tr.get(p).map(_.durationMs / 1e3).getOrElse(0.0)
          lock.synchronized {
            val (o, pl) = phases(q)
            phases(q) = (o + phase("optimization"), pl + phase("planning"))
            reference.get(q) match {
              case Some(ref) => ref == c
              case None =>
                reference(q) = c
                spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
                  .coalesce(1).write.parquet(s"${a.work}/results/$q")
                true
            }
          }
      } catch {
        case e: Throwable =>
          lock.synchronized(errors(q) = ("check: " + e).take(300))
          false
      }
      lock.synchronized {
        ops += Map("name" -> q, "pass" -> pass, "ms" -> ms, "cpu_ms" -> cpuMs, "ok" -> ok)
      }
      if (!shared) {
        leftovers(q) = math.max(leftovers(q), cacheEntries(spark))
        clearState(spark)
      }
    }

    def pass(p: Int, order: Seq[String], tracer: Option[Tracer]): Double = Host.timed {
      order.foreach(q => tracer match {
        case Some(t) => t.request(s"$q#$p")(request(q, p, tracer))
        case None => request(q, p, None)
      })
    }._2

    // Warm-up: `cores` passes at once, one client thread per pass, each in
    // a rotation of the declared order; then one pass on this thread, which
    // clears the cache after each request as the timed passes do. A pass
    // uses about one core, so the concurrent passes bring the JIT to steady
    // state in a fraction of the wall time they take one after another. The
    // first result of each query fixes its reference, which is dumped for
    // the oracle check.
    val (_, warmS, warmCpuS) = Host.timedCpu {
      Host.onThreads(a.cores) { i =>
        val order = Queries.drop(i % Queries.length) ++ Queries.take(i % Queries.length)
        order.foreach(q => request(q, -1 - i, None, shared = true))
      }
      clearState(spark)
      pass(-1 - a.cores, Queries, None)
    }
    rep("warmup_s") = warmS
    rep("warmup_cpu_s") = warmCpuS
    rep("oracle_sql") = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    val warmOps = ops.length

    val rng = new scala.util.Random(a.seed)
    val tracer = if (a.trace) Some(new Tracer) else None
    val listener = if (a.trace) Some(new GroupListener) else None
    val calibration = mutable.ArrayBuffer.empty[Double]
    Calibration.warmUp(a.cores)
    val untraced = mutable.ArrayBuffer.empty[Double]
    listener.foreach(sc.addSparkListener)
    val steal0 = Host.cpuTicks()
    val t0 = System.nanoTime()
    val passes = mutable.ArrayBuffer.empty[Double]
    // In the traced run, untraced and traced passes alternate in the order
    // U T T U, so drift from the JIT still warming up cancels out of the
    // tracing overhead.
    def untracedPass(): Unit =
      if (a.trace) untraced += pass(untraced.length + passes.length, rng.shuffle(Queries), None)
    val compiles0 = Host.codegenCompiles
    // the traced run pairs 2 traced with 2 untraced passes at least
    val minPasses = if (a.trace) 2 else MinPasses
    while (passes.length < minPasses || (System.nanoTime() - t0) / 1e9 < a.seconds) {
      calibration ++= Calibration.gap(a.cores)
      if (passes.length % 2 == 0) untracedPass()
      passes += pass(untraced.length + passes.length, rng.shuffle(Queries), tracer)
      if (passes.length % 2 == 0) untracedPass()
    }
    calibration ++= Calibration.gap(a.cores)
    rep("calibration_ms") = calibration
    rep("codegen_compiles_timed") = Host.codegenCompiles - compiles0
    rep("loop_s") = (System.nanoTime() - t0) / 1e9
    rep("steal_pct") = Host.stealPct(steal0, Host.cpuTicks())
    rep("passes_s") = passes
    val timed = ops.drop(warmOps)
    rep("ops") = timed
    rep("warmup_ops") = ops.take(warmOps)
    rep("errors") = errors
    rep("cache_entries_left") = leftovers

    for (t <- tracer; l <- listener) {
      sc.removeSparkListener(l)
      val groups = l.snapshot(spark)
      val n = passes.length.toDouble
      val self = t.selfByName
      def sum(f: GroupCounters => Double, phase: String = "") =
        groups.collect { case (g, c) if Queries.exists(q => g.startsWith(q + "/" + phase)) => f(c) }.sum / n
      // the planning phases are summed over every pass, warm-up included
      val allPasses = ops.length.toDouble / Queries.length
      val layers = mutable.LinkedHashMap[String, Any](
        "call_s" -> self.getOrElse("SparkEntry.call", 0.0) / n,
        "eager_jobs" -> sum(_.jobs.toDouble, "call"),
        "optimize_s" -> phases.values.map(_._1).sum / allPasses,
        "planning_s" -> phases.values.map(_._2).sum / allPasses,
        "action_s" -> self.getOrElse("collect", 0.0) / n,
        "jobs" -> sum(_.jobs.toDouble, "action"),
        "stages" -> sum(_.stages.toDouble),
        "tasks" -> sum(_.tasks.toDouble),
        "shuffle_read_bytes" -> sum(_.shuffleRead.toDouble),
        "shuffle_write_bytes" -> sum(_.shuffleWrite.toDouble),
        "spill_bytes" -> sum(_.spill.toDouble),
        "output_bytes" -> sum(_.outBytes.toDouble),
        "executor_cpu_s" -> sum(_.cpuNs / 1e9),
        "executor_run_s" -> sum(_.runMs / 1e3),
        "gc_s" -> sum(_.gcMs / 1e3),
        "task_max_over_median" -> Queries.map { q =>
          GroupCounters.maxOverMedian(groups.collect { case (g, c) if g.startsWith(q + "/") => c.taskMs }.flatten.toSeq)
        }.max,
        "cache_entries_left" -> leftovers.values.sum.toDouble,
        "trace_overhead_pct" -> 100.0 * (Host.median(passes.toSeq) - Host.median(untraced.toSeq)) /
          Host.median(untraced.toSeq))
      Queries.foreach { q =>
        layers(s"$q.s") = Host.median(t.all.filter(s => s.name == "request" && s.request.startsWith(q + "#"))
          .map(_.seconds))
      }
      layers ++= Kernels.run(spark, a.data, a.cores)
      rep("layers") = layers
      t.write(s"${a.work}/spans.json")
    }
  }
}
