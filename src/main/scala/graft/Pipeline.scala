package graft

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import graft.operators.{Enrich, Parse, Route, Score}
import graft.plans.Checkpoint

/**
 * The flagship end-to-end pipeline (north_rule): parse → enrich → route →
 * aggregate over the Common-Crawl-style pages table, as ONE Catalyst plan
 * per stage — the recast of the reference's per-message chain
 * (`consumer/LogConsumer.java:33` → `service/LogProcessorService.java:72-96`
 * → ES/ML/PG), SURVEY.md §3.1.
 *
 * Physical shape (asserted in PipelineSpec):
 *   FileScan/Range → WholeStageCodegen(parse+flags+severity+score)
 *   → BroadcastHashJoin(domain_rep) → BroadcastHashJoin(lang_meta)
 *   → dynamic-partition fan-out write (no shuffle)
 *   then the anomalies, lineage and per-sink aggregates as pruned
 *   read-back scans of narrow columns (no text bytes).
 *
 * Every read-back passes the sink schema taken from the analyzed plan of
 * [[transform]] (no inference job), the lineage and aggregate tables are
 * ordered inside one partition (no range-sampling job), and the aggregate
 * row count comes from an `Observation` on its own write (no read-back).
 * A full run is 11 Spark jobs: the heavy write and one job per broadcast
 * dimension table, the anomalies write, the lineage table (shuffle-map +
 * result), the route commit row, the per-sink aggregates (two
 * shuffle-map jobs, the distinct host count needing the second, + result)
 * and the aggregate commit row.
 *
 * Determinism: `jobStartTs` is an explicit parameter replacing every
 * `Instant.now()` in the reference (G1/G5, anomaly detectedAt) so re-runs
 * and resumes are bit-identical.
 */
object Pipeline {

  val DefaultJobStart: java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse("2024-06-01T00:00:00Z"))

  /** Lazily composed logical plan for the full transform (no action). */
  def transform(pages: DataFrame, domainRep: DataFrame, langMeta: DataFrame,
                jobStartTs: java.sql.Timestamp = DefaultJobStart): DataFrame = {
    val parsed = Parse(pages, jobStartTs)
    val enriched = Enrich(parsed, domainRep, langMeta, jobStartTs)
    Score(enriched)
  }

  final case class RunResult(ran: Boolean, stats: Option[Route.RouteStats],
                             ranAggregate: Boolean = false)

  /**
   * Full checkpointed run: route stage (logs + rejected + anomalies sinks)
   * then aggregate stage (per-sink counts), each commit-marker-last so a
   * re-run resumes past completed stages (J1).
   */
  def run(spark: SparkSession, pages: DataFrame, domainRep: DataFrame,
          langMeta: DataFrame, root: String,
          jobStartTs: java.sql.Timestamp = DefaultJobStart): RunResult = {
    lazy val scored = transform(pages, domainRep, langMeta, jobStartTs)
    lazy val sinkSchema = Route.sinkSchema(scored)
    // opened only after the route write: the file listing is taken on open
    def logs() = Route.logs(Route.routed(spark, root, sinkSchema))
    var stats: Option[Route.RouteStats] = None

    val ranRoute = Checkpoint.runStage(spark, root, "route", jobStartTs) {
      val s = Route(scored, root) // ONE heavy pass + columnar derivations
      stats = Some(s)
      (Checkpoint.CommitRow("route", s.inputRows, s.routedRows,
        s.rejectedRows, "", ""),
        Some(Route.lineage(logs())))
    }

    // Downstream consistency: if the route stage (re-)executed, any
    // aggregate commit from a previous run describes the OLD sink — clear
    // it so sink_counts is always recomputed from the sink just written.
    if (ranRoute) Checkpoint.invalidate(spark, root, "aggregate")

    val ranAgg = Checkpoint.runStage(spark, root, "aggregate", jobStartTs) {
      val written = new Observation()
      Route.sinkAggregates(logs())
        .observe(written, count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(s"$root/sink_counts")
      val n = written.get("rows").asInstanceOf[Long]
      (Checkpoint.CommitRow("aggregate", n, n, 0L, "", ""), None)
    }

    RunResult(ranRoute, stats, ranAgg)
  }
}
