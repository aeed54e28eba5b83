package graft

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}
import graft.operators.{Route, Score}
import graft.plans.Checkpoint

/**
 * End-to-end correctness gates from the north rule (SURVEY.md §5.2):
 *  - routed-row equality per sink vs the pure-Scala RefOracle,
 *  - byte-identical `text` per url,
 *  - row-count conservation across the fan-out,
 *  - idempotent resume from the checkpoint,
 *  - the post-write tail (anomalies, lineage, sink_counts) equal to
 *    recounts from the sink's text, read through narrow columns only.
 */
class PipelineSpec extends SparkSuite {
  import spark.implicits._

  private val N = 3000L
  private lazy val pages = Synth.pages(spark, N, parts = 8).cache()
  private lazy val dims = (Synth.domainReputation(spark), Synth.langMeta(spark))
  private val t0 = Pipeline.DefaultJobStart

  test("pipeline output equals RefOracle row-for-row (routed-row equality)") {
    val got = Pipeline.transform(pages, dims._1, dims._2, t0)
      .filter($"parse_ok")
      .select($"id", $"url", $"ts", $"severity", $"host", $"message", $"text",
        $"environment", $"message_length", $"has_exception", $"has_timeout",
        $"has_connection", $"anomaly_score", $"is_anomaly", $"confidence", $"alert")
      .collect().map(r => (r.getString(1), r)).sortBy(_._1)

    val inputs = pages.collect()
    val expected = inputs.flatMap { r =>
      RefOracle.process(r.getString(0), r.getTimestamp(1), r.getString(3),
        r.getString(4), t0).toOption
    }.map(o => (o.url, o)).sortBy(_._1)

    assert(got.length == expected.length, "routed row count")
    got.zip(expected).foreach { case ((u1, g), (u2, e)) =>
      assert(u1 == u2)
      assert(g.getString(0) == e.id, s"id @ $u1")
      assert(g.getTimestamp(2) == e.ts, s"ts @ $u1")
      assert(g.getString(3) == e.severity, s"severity @ $u1")
      assert(g.getString(4) == e.host, s"host @ $u1")
      assert(g.getString(5) == e.message, s"message @ $u1")
      assert(g.getString(6) == e.text, s"text byte-identity @ $u1")
      assert(g.getString(7) == e.environment, s"environment @ $u1")
      assert(g.getInt(8) == e.messageLength.get, s"message_length @ $u1")
      assert(g.getBoolean(9) == e.hasException.get, s"has_exception @ $u1")
      assert(g.getBoolean(10) == e.hasTimeout.get, s"has_timeout @ $u1")
      assert(g.getBoolean(11) == e.hasConnection.get, s"has_connection @ $u1")
      assert(g.getDouble(12) == e.anomalyScore, s"score @ $u1")
      assert(g.getBoolean(13) == e.isAnomaly, s"is_anomaly @ $u1")
      assert(g.getDouble(14) == e.confidence, s"confidence @ $u1")
      assert(g.getBoolean(15) == e.alert, s"alert @ $u1")
    }
  }

  test("rejected rows match oracle and carry reasons (dead-letter B4)") {
    val got = Pipeline.transform(pages, dims._1, dims._2, t0)
      .filter(!$"parse_ok").select($"url", $"reject_reason")
      .as[(String, String)].collect().sortBy(_._1)
    val expected = pages.collect().flatMap { r =>
      RefOracle.process(r.getString(0), r.getTimestamp(1), r.getString(3),
        r.getString(4), t0).left.toOption
    }.map(o => (o.url, o.reason)).sortBy(_._1)
    assert(got.toSeq == expected.toSeq)
    assert(expected.nonEmpty, "generator must plant rejects")
  }

  test("full run: conservation, per-sink aggregates, lineage, resume") {
    val root = tmpDir("pipe")
    val r1 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(r1.ran)
    val s = r1.stats.get
    assert(s.inputRows == N)
    assert(s.routedRows + s.rejectedRows == N, "row conservation")

    val sinkRows = Route.logs(spark, root).count()
    val rejRows = Route.rejected(spark, root).count()
    assert(sinkRows == s.routedRows && rejRows == s.rejectedRows)

    // per-sink aggregates match independent recount (F7 gate)
    val aggs = spark.read.parquet(s"$root/sink_counts")
      .select($"severity", $"doc_count").as[(String, Long)].collect().toMap
    val recount = Route.logs(spark, root)
      .groupBy($"severity").count().as[(String, Long)].collect().toMap
    assert(aggs == recount)
    assert(aggs.keySet == Set("ERROR", "WARN", "INFO"))

    // planted multi-failure rows make the anomaly + alert paths non-empty
    val logs = Route.logs(spark, root)
    assert(logs.filter($"is_anomaly").count() > 0, "anomalies planted")
    assert(logs.filter($"alert").count() > 0, "high-confidence alerts planted")

    // anomalies side-table: one row per routed log (B3)
    assert(spark.read.parquet(s"$root/anomalies").count() == s.routedRows)

    // lineage rows sum to routed rows (J7)
    val lin = spark.read.parquet(s"$root/_checkpoint/route/lineage")
    assert(lin.agg(sum($"rows")).as[Long].collect()(0) == s.routedRows)

    // resume: second run skips committed stages, output unchanged (J1)
    val before = Route.logs(spark, root).orderBy($"id").collect()
    val r2 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(!r2.ran, "committed stage must be skipped on re-run")
    val after = Route.logs(spark, root).orderBy($"id").collect()
    assert(before.sameElements(after))

    // invalidate the aggregate stage only -> partial resume re-runs it
    Checkpoint.invalidate(spark, root, "aggregate")
    Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(Checkpoint.committed(spark, root, "aggregate"))
    val commits = Checkpoint.commits(spark, root)
    assert(commits.filter($"status" === "committed").count() == 2)
  }

  test("post-write tail equals text-derived recounts; no text bytes read back") {
    val root = tmpDir("pipe-tail")
    val s = Pipeline.run(spark, pages, dims._1, dims._2, root, t0).stats.get
    val logs = Route.logs(spark, root)

    // anomalies from the stored flags == featuresJson over the message text
    val anomalies = spark.read.parquet(s"$root/anomalies")
    val recount = logs.select($"id".as("log_id"), $"anomaly_score", $"is_anomaly",
      $"confidence", $"model_version",
      Score.featuresJson($"message", $"severity", $"service").as("features"),
      $"processed_at".as("detected_at"))
    assert(anomalies.columns.toSeq == recount.columns.toSeq)
    assert(anomalies.exceptAll(recount).isEmpty, "anomaly rows not in the recount")
    assert(recount.exceptAll(anomalies).isEmpty, "recount rows not in anomalies")

    // lineage == per-file recount, row for row and in (severity, file) order
    val lineage = spark.read.parquet(s"$root/_checkpoint/route/lineage")
      .as[(String, String, Long)].collect().toSeq
    val perFile = logs.groupBy($"severity", input_file_name().as("file"))
      .agg(count(lit(1)).as("rows")).orderBy("severity", "file")
      .as[(String, String, Long)].collect().toSeq
    assert(lineage == perFile)
    assert(lineage.forall(_._2.startsWith("file:///")), lineage.map(_._2).mkString(", "))

    // sink_counts in severity order; the aggregate commit counts its rows
    val sevs = spark.read.parquet(s"$root/sink_counts").select($"severity")
      .as[String].collect().toSeq
    assert(sevs == Seq("ERROR", "INFO", "WARN"))
    val aggCommit = Checkpoint.commits(spark, root).filter($"stageId" === "aggregate")
      .select($"inputRows", $"outputRows").as[(Long, Long)].collect().toSeq
    assert(aggCommit == Seq((3L, 3L)))
    assert(s.routedRows == logs.count())

    // the known sink schema is the one parquet inference finds
    val scored = Pipeline.transform(pages, dims._1, dims._2, t0)
    val inferred = spark.read.parquet(s"$root/routed").schema
    assert(Route.sinkSchema(scored) ==
      StructType(inferred.map(f => StructField(f.name, f.dataType))))

    // the anomalies derivation reads narrow columns only
    val scans = Route.anomalies(Route.logs(Route.routed(spark, root, Route.sinkSchema(scored))))
      .queryExecution.sparkPlan.collect { case f: FileSourceScanExec => f }
    assert(scans.size == 1)
    val read = scans.head.requiredSchema.fieldNames.toSet
    assert(!read.contains("text") && !read.contains("message_trunc"), read.mkString(", "))
  }

  test("upstream re-run invalidates downstream aggregate (stale-sink guard)") {
    val root = tmpDir("pipe-inv")
    val r1 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(r1.ran && r1.ranAggregate)
    val r2 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(!r2.ran && !r2.ranAggregate, "fully committed run resumes past both")
    // clear ONLY the route marker: its re-run must invalidate the still-
    // present aggregate marker, else sink_counts would describe the old sink
    Checkpoint.invalidate(spark, root, "route")
    val r3 = Pipeline.run(spark, pages, dims._1, dims._2, root, t0)
    assert(r3.ran, "route re-runs")
    assert(r3.ranAggregate, "aggregate must be recomputed after route re-ran")
  }

  test("enrich joins broadcast and hit/miss correctly") {
    val df = Pipeline.transform(pages, dims._1, dims._2, t0).filter($"parse_ok")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "dims must broadcast")
    // every valid host is a generated domain -> reputation always present
    assert(df.filter($"reputation".isNull).count() == 0)
    // "ja" is missing from lang_meta -> left-join null path exercised
    assert(df.filter($"lang" === "ja" && $"lang_family".isNull).count() > 0)
    assert(df.filter($"lang" === "en" && $"lang_family" =!= "germanic").count() == 0)
  }

  test("oversized messages truncated in sink; planted outliers exist") {
    val df = Pipeline.transform(pages, dims._1, dims._2, t0).filter($"parse_ok")
    assert(df.filter(length($"text") > 10000).count() > 0, "generator plants outliers")
    assert(df.agg(max(length($"message"))).as[Int].collect()(0) <= 10015)
    assert(df.filter($"message".endsWith("... [truncated]")).count() ==
      df.filter(length($"text") > 10000).count())
  }
}
