package graftbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Pipeline, RefOracle, Synth}
import graft.operators.{Enrich, Parse, Route, Score}
import graft.plans.Checkpoint
import Main.{Args, Report, inGroup}

/**
 * The flagship workload: `Synth.pages(seed)` is written to parquet once,
 * then each request is one `Pipeline.run` over that table into a fresh
 * output root. After each timed request (untimed) the output is checked
 * against `RefOracle` and the resumed run must skip every stage; after
 * every request the root is deleted.
 */
object Flagship {

  private val JobStart = Pipeline.DefaultJobStart

  /** What `RefOracle.process` says the sinks must hold. */
  final case class Expected(
      routedBySeverity: Map[String, Long],
      sample: Map[String, RefOracle.OracleRecord],
      rejectedSample: Map[String, String])

  /** Deterministic ~1% sample of urls, by a hash of the url. */
  private def sampled(url: String): Boolean =
    url != null && java.lang.Math.floorMod(url.hashCode * 0x9E3779B1, 97) == 0

  def expected(pages: DataFrame): Expected = {
    val byUrl = pages.select("url", "warc_ts", "text", "lang").collect().map { r =>
      r.getString(0) -> RefOracle.process(r.getString(0), r.getTimestamp(1), r.getString(2),
        r.getString(3), JobStart)
    }
    Expected(
      byUrl.collect { case (_, Right(o)) => o.severity }.groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong },
      byUrl.collect { case (u, Right(o)) if sampled(u) => u -> o }.toMap,
      byUrl.collect { case (u, Left(rej)) if sampled(u) => u -> rej.reason }.toMap)
  }

  /** Names of the checks `root` fails (empty when the output is right). */
  def check(spark: SparkSession, root: String, n: Long, r: Pipeline.RunResult,
            exp: Expected, resumed: Pipeline.RunResult): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    r.stats match {
      case Some(s) if s.inputRows == n && s.routedRows + s.rejectedRows == n =>
      case other => bad += s"conservation $other"
    }
    val counts = spark.read.parquet(s"$root/sink_counts").select("severity", "doc_count")
      .collect().map(x => x.getString(0) -> x.getLong(1)).toMap
    if (counts != exp.routedBySeverity) bad += s"severity counts $counts"
    val rows = Route.logs(spark, root)
      .filter(col("url").isin(exp.sample.keys.toSeq: _*))
      .select("url", "id", "ts", "severity", "service", "message", "text", "environment",
        "message_length", "has_exception", "has_timeout", "has_connection",
        "anomaly_score", "is_anomaly", "confidence", "alert")
      .collect()
    if (rows.length != exp.sample.size) bad += s"sample rows ${rows.length} != ${exp.sample.size}"
    rows.foreach { g =>
      val e = exp.sample(g.getString(0))
      val same = g.getString(1) == e.id && g.getTimestamp(2) == e.ts &&
        g.getString(3) == e.severity && g.getString(4) == e.host &&
        g.getString(5) == e.message && g.getString(6) == e.text &&
        g.getString(7) == e.environment && g.getInt(8) == e.messageLength.get &&
        g.getBoolean(9) == e.hasException.get && g.getBoolean(10) == e.hasTimeout.get &&
        g.getBoolean(11) == e.hasConnection.get && g.getDouble(12) == e.anomalyScore &&
        g.getBoolean(13) == e.isAnomaly && g.getDouble(14) == e.confidence &&
        g.getBoolean(15) == e.alert
      if (!same) bad += s"row ${g.getString(0)}"
    }
    val rejected = Route.rejected(spark, root)
      .filter(col("url").isin(exp.rejectedSample.keys.toSeq: _*))
      .collect().map(x => x.getString(0) -> x.getString(1)).toMap
    if (rejected != exp.rejectedSample) bad += "rejected sample"
    if (resumed.ran || resumed.ranAggregate) bad += "resume re-ran a stage"
    bad.toSeq
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(spark0: SparkSession, a: Args, rep: Report, cpu: RequestCpu): SparkSession = {
    var spark = spark0
    val n = a.docs
    // set-up: the input table, written three times so the median is reported
    val mats = (0 until 3).map { i =>
      Host.timedCpu {
        Synth.pages(spark, n, seed = a.seed, parts = a.cores)
          .write.mode("overwrite").parquet(s"${a.work}/pages_$i")
      }
    }
    (1 until 3).foreach(i => Host.deleteTree(new java.io.File(s"${a.work}/pages_$i")))
    rep("materialize_s") = mats.map(_._2)
    rep("materialize_cpu_s") = mats.map(_._3)
    rep("inputs") = Map("pages" -> n)
    def pagesOf(s: SparkSession) = s.read.parquet(s"${a.work}/pages_0")
    var pages = pagesOf(spark)
    val domainRep = Synth.domainReputation(spark)
    val langMeta = Synth.langMeta(spark)

    val (exp0, oracleS) = Host.timed(expected(pages))
    val exp = if (a.injectWrong)
      exp0.copy(routedBySeverity = exp0.routedBySeverity.map { case (k, v) => k -> (v + 1) })
    else exp0
    rep("oracle_s") = oracleS

    var seq = 0
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val failures = mutable.ArrayBuffer.empty[String]
    val sinkBytes = mutable.ArrayBuffer.empty[Double]
    var checkSeconds = 0.0

    // Warm-up requests run on several threads at once; `lock` guards the
    // shared records.
    val lock = new Object

    /** One request: `body` runs the pipeline into `root`. A request that
      * throws or fails a check is recorded as failed. Warm-up requests are
      * not checked (`checked = false`), which keeps the set-up short.
      * Returns the seconds `body` took. */
    def request(pass: Int, checked: Boolean = true)(body: String => Pipeline.RunResult): Double = {
      val root = lock.synchronized { seq += 1; s"${a.work}/out_${seq - 1}" }
      val cpu0 = cpu.nowNs(spark)
      val t0 = System.nanoTime()
      var secs = 0.0
      val bad = try {
        val r = body(root)
        secs = (System.nanoTime() - t0) / 1e9
        val cpuMs = (cpu.nowNs(spark) - cpu0) / 1e6
        val bad = if (!checked) Nil else {
          val (bad, checkS) = Host.timed(check(spark, root, n, r, exp,
            Pipeline.run(spark, pages, domainRep, langMeta, root, JobStart)))
          checkSeconds += checkS
          sinkBytes += Host.dataFiles(new java.io.File(root))._2.toDouble / n
          bad
        }
        lock.synchronized {
          ops += Map("name" -> "Pipeline.run", "pass" -> pass, "ms" -> secs * 1e3,
            "cpu_ms" -> cpuMs, "ok" -> bad.isEmpty)
        }
        bad
      } catch {
        case e: Exception =>
          lock.synchronized(ops += Map("name" -> "Pipeline.run", "pass" -> pass, "ok" -> false))
          Seq(e.toString.take(300))
      }
      lock.synchronized(failures ++= bad.take(3))
      Host.deleteTree(new java.io.File(root))
      secs
    }
    def plain(root: String) = Pipeline.run(spark, pages, domainRep, langMeta, root, JobStart)

    // Warm-up: `cores` runs at once, one per thread, then two on this
    // thread. A run keeps about one core busy, so the concurrent ones bring
    // the JIT to steady state in the wall time of about one run.
    val (_, warmS, warmCpuS) = Host.timedCpu {
      Host.onThreads(a.cores)(i => request(-1 - i, checked = false)(plain))
      (0 until 2).foreach(i => request(-1 - a.cores - i, checked = false)(plain))
    }
    rep("warmup_s") = warmS
    rep("warmup_cpu_s") = warmCpuS
    val warmOps = ops.length

    if (!a.trace) {
      Calibration.warmUp(a.cores)
      val steal0 = Host.cpuTicks()
      val t0 = System.nanoTime()
      var p = 0
      val compiles0 = Host.codegenCompiles
      val calibration = mutable.ArrayBuffer.empty[Double]
      while (p < 2 || (System.nanoTime() - t0) / 1e9 < a.seconds) {
        calibration ++= Calibration.gap(a.cores)
        request(p)(plain)
        p += 1
      }
      calibration ++= Calibration.gap(a.cores)
      rep("calibration_ms") = calibration
      rep("codegen_compiles_timed") = Host.codegenCompiles - compiles0
      rep("loop_s") = (System.nanoTime() - t0) / 1e9
      rep("steal_pct") = Host.stealPct(steal0, Host.cpuTicks())
    } else {
      val steal0 = Host.cpuTicks()
      val untraced = mutable.ArrayBuffer.empty[Double]
      val tracer = new Tracer
      val listener = new GroupListener
      spark.sparkContext.addSparkListener(listener)
      val routeFiles = mutable.ArrayBuffer.empty[Double]
      val rejectedRows = mutable.ArrayBuffer.empty[Double]
      val outFiles = mutable.ArrayBuffer.empty[Double]
      val reps = 2
      (0 until reps).foreach { k =>
        // untraced and traced runs alternate, so warm-up drift cancels
        untraced += request(2 * k)(plain)
        tracer.request(s"flagship#$k") {
          def layer[T](name: String)(body: => T): T = inGroup(spark, name)(tracer.span(name)(body))
          // Each layer is timed on its own, through its public function,
          // outside Pipeline.run and into a root of its own. The compute
          // layers are cumulative prefixes forced to the noop sink.
          val probe = s"${a.work}/probe_$k"
          val parsed = Parse(pages, JobStart)
          val enriched = Enrich(parsed, domainRep, langMeta, JobStart)
          layer("probe.Parse")(noop(parsed))
          layer("probe.Enrich")(noop(enriched))
          layer("probe.Score")(noop(Score(enriched)))
          val s = layer("probe.Route") {
            Route(Pipeline.transform(pages, domainRep, langMeta, JobStart), probe)
          }
          routeFiles += (Host.dataFiles(new java.io.File(s"$probe/routed"))._1 +
            Host.dataFiles(new java.io.File(s"$probe/anomalies"))._1).toDouble
          rejectedRows += s.rejectedRows.toDouble
          layer("probe.Route.lineage") {
            Route.lineage(spark, probe).write.mode("overwrite").parquet(s"$probe/lineage")
          }
          val m = layer("probe.Route.sinkAggregates") {
            Route.sinkAggregates(spark, probe).write.mode("overwrite").parquet(s"$probe/sink_counts")
            spark.read.parquet(s"$probe/sink_counts").count()
          }
          // the two stage commits (commit row and marker) without their bodies
          layer("probe.Checkpoint.commit") {
            Checkpoint.runStage(spark, probe, "route", JobStart) {
              (Checkpoint.CommitRow("route", s.inputRows, s.routedRows, s.rejectedRows, "", ""), None)
            }
            Checkpoint.runStage(spark, probe, "aggregate", JobStart) {
              (Checkpoint.CommitRow("aggregate", m, m, 0L, "", ""), None)
            }
          }
          Host.deleteTree(new java.io.File(probe))
          request(2 * k + 1) { r =>
            val res = layer("Pipeline.run")(plain(r))
            outFiles += Host.dataFiles(new java.io.File(r))._1.toDouble
            layer("probe.Checkpoint.resume")(plain(r))
            res
          }
        }
      }
      spark.sparkContext.removeSparkListener(listener)
      val groups = listener.snapshot(spark)
      def g(name: String) = groups.getOrElse(name, new GroupCounters)
      val run = g("Pipeline.run")
      val route = g("probe.Route")
      // probe spans have no children, so a probe's self time is its duration
      def secs(name: String) = tracer.all.filter(_.name == name).map(_.seconds)
      def per(name: String) = secs(name).sum / reps
      val (p1, p2, p3) = (per("probe.Parse"), per("probe.Enrich"), per("probe.Score"))
      val routeProbe = per("probe.Route")
      val lineage = per("probe.Route.lineage")
      val aggregate = per("probe.Route.sinkAggregates")
      val commit = per("probe.Checkpoint.commit")
      val untracedMed = Host.median(untraced.toSeq)
      val layers = mutable.LinkedHashMap[String, Any](
        "parse.s" -> p1, "enrich.s" -> (p2 - p1), "score.s" -> (p3 - p2),
        "parse.rejected_rows" -> Host.median(rejectedRows.toSeq),
        "route.s" -> (routeProbe - p3),
        "route.bytes_written" -> route.outBytes.toDouble / reps,
        "route.files_written" -> Host.median(routeFiles.toSeq),
        "route.records_written" -> route.outRecords.toDouble / reps,
        "route.jobs" -> route.jobs.toDouble / reps,
        "lineage.s" -> lineage, "aggregate.s" -> aggregate, "commit.s" -> commit,
        "checkpoint.resume_s" -> per("probe.Checkpoint.resume"),
        // independently timed parts over the untraced whole
        "flagship.span_coverage" -> (routeProbe + lineage + aggregate + commit) / untracedMed,
        "trace_overhead_pct" -> 100.0 * (Host.median(secs("Pipeline.run")) - untracedMed) / untracedMed,
        "jobs" -> run.jobs.toDouble / reps,
        "stages" -> run.stages.toDouble / reps,
        "tasks" -> run.tasks.toDouble / reps,
        "shuffle_read_bytes" -> run.shuffleRead.toDouble / reps,
        "shuffle_write_bytes" -> run.shuffleWrite.toDouble / reps,
        "spill_bytes" -> run.spill.toDouble / reps,
        "output_bytes" -> run.outBytes.toDouble / reps,
        "output_files" -> Host.median(outFiles.toSeq),
        "executor_cpu_s" -> run.cpuNs / 1e9 / reps,
        "executor_run_s" -> run.runMs / 1e3 / reps,
        "gc_s" -> run.gcMs / 1e3 / reps,
        "task_max_over_median" -> run.maxOverMedian,
        "steal_pct" -> Host.stealPct(steal0, Host.cpuTicks()))
      tracer.write(s"${a.work}/spans.json")

      // parallel efficiency: the same run on one core, in a fresh session
      spark.stop()
      spark = Main.session(1, a.work)
      pages = pagesOf(spark)
      val oneRoot = s"${a.work}/one"
      val one = Host.timed(Pipeline.run(spark, pages, Synth.domainReputation(spark),
        Synth.langMeta(spark), oneRoot, JobStart))._2
      Host.deleteTree(new java.io.File(oneRoot))
      layers("flagship.scaling_eff") = one / (a.cores * untracedMed)
      rep("layers") = layers
    }
    rep("ops") = ops.drop(warmOps)
    rep("warmup_ops") = ops.take(warmOps)
    rep("errors") = failures.distinct.take(20)
    rep("sink_bytes_per_doc") = sinkBytes
    rep("check_s") = checkSeconds
    spark
  }
}
