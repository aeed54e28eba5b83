package graft.operators

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

/**
 * Router / sink fan-out stage (SURVEY.md §2 B1-B4, F7, J1-J2;
 * north_rule "rule-driven router fans rows out to per-severity sinks").
 *
 * The reference indexes one document per HTTP call into a single ES index
 * (`service/ElasticsearchService.java:170-193`) and nacks failures to a DLQ
 * (`consumer/LogConsumer.java:52-62`). The Spark recast is built around ONE
 * invariant: **the expensive plan (parse → enrich → score over the full
 * text) executes exactly once.**
 *
 *  - A single dynamic-partition parquet write `partitionBy("severity")`
 *    fans every row out in one pass — rejected rows ride along under
 *    `severity=REJECTED` (the dead-letter partition, B4/J2: never dropped,
 *    annotated with `reject_reason`), so the dead-letter sink costs no
 *    second scan. No shuffle: each write task appends to the partition
 *    dirs it sees. (At cluster scale add `repartition($"severity", salt)`
 *    to bound files-per-partition; local mode keeps the shuffle-free path.)
 *  - The anomaly side-table (B3, PostgreSQL analog), the lineage table and
 *    the per-sink aggregates (F7) are derived by reading BACK the routed
 *    sink — a columnar scan of a few narrow columns and no text bytes:
 *    the anomaly features come from the stored `message_length`/`has_*`
 *    flags ([[anomalies]]; PipelineSpec pins the scan's `ReadSchema`).
 *    Callers that know the scored plan read the sink with its
 *    [[sinkSchema]], so no read-back starts a footer-inference job.
 *  - Row-count conservation (Σ sinks + rejected = input) is observed in
 *    the same single pass via the `Observation` API (J7) — no extra scan.
 *  - The derived tables are tiny (one row per severity, or per written
 *    file), so they are ordered inside one partition
 *    (`coalesce(1).sortWithinPartitions`), not by a range-partitioned
 *    global sort: the same rows in the same order, without the sampling
 *    job and the range shuffle.
 */
object Route {

  val RejectedPartition = "REJECTED"

  /**
   * Columns persisted to the routed sink (LogRecord + scoring); `host`
   * becomes the LogRecord `service` slot (SURVEY.md §1.4).
   *
   * Write-volume design (the sink write is memory-bandwidth-bound, the
   * dominant E2E cost): `message` equals `text` for all but the ~0.1%
   * truncated outliers (G3), so only the DIFFERENT values are stored
   * (`message_trunc`, null otherwise) and [[logs]] reconstructs
   * `message = coalesce(message_trunc, text)` on read — ~40% fewer sink
   * bytes with identical semantics. `features_json` (~180B/row, needed
   * only by the anomalies side-table) is not stored: [[anomalies]] builds
   * it from the stored flags.
   */
  val sinkColumns: Seq[String] = Seq(
    "id", "url", "ts", "host as service",
    "CASE WHEN message <> text THEN message END as message_trunc",
    "text", "lang", "environment",
    "message_length", "has_exception", "has_timeout", "has_connection",
    "reputation", "category", "lang_family", "script",
    "processed_at", "processor",
    "anomaly_score", "is_anomaly", "confidence", "model_version", "alert",
    "reject_reason")

  final case class RouteStats(inputRows: Long, routedRows: Long, rejectedRows: Long)

  /** Rejected rows take the dead-letter partition as their routing key. */
  private def routeKey(scored: DataFrame): DataFrame =
    scored.withColumn("severity",
      when(col("parse_ok"), col("severity")).otherwise(RejectedPartition))

  private def sinkRows(keyed: DataFrame): DataFrame =
    keyed.selectExpr(sinkColumns :+ "severity": _*)

  /**
   * Schema of `root/routed` as [[apply]] writes it from `scored`: the sink
   * columns, then the `severity` partition column, all nullable as parquet
   * reads them back. Analysis only — no job — so it is known also when the
   * route stage itself is skipped on resume.
   */
  def sinkSchema(scored: DataFrame): StructType =
    StructType(sinkRows(routeKey(scored)).schema.map(f => StructField(f.name, f.dataType)))

  /** The routed sink (REJECTED included) read with a known schema. */
  def routed(spark: SparkSession, root: String, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$root/routed")

  /**
   * Writes `scored` (output of Parse→Enrich→Score, incl. `parse_ok`) to
   * `root/routed` partitioned by severity (rejected rows under
   * `severity=REJECTED`), then derives `root/anomalies` from the sink
   * read-back. Returns conservation stats from the single heavy pass.
   */
  def apply(scored: DataFrame, root: String): RouteStats = {
    val spark = scored.sparkSession
    val obs = new Observation()
    sinkRows(routeKey(scored)
      .observe(obs,
        count(lit(1)).as("input_rows"),
        count(when(col("parse_ok"), 1)).as("routed_rows"),
        count(when(!col("parse_ok"), 1)).as("rejected_rows")))
      .write.mode("overwrite")
      .partitionBy("severity")
      .parquet(s"$root/routed")

    val row = obs.get
    val stats = RouteStats(
      row("input_rows").asInstanceOf[Long],
      row("routed_rows").asInstanceOf[Long],
      row("rejected_rows").asInstanceOf[Long])

    anomalies(logs(routed(spark, root, sinkSchema(scored))))
      .write.mode("overwrite").parquet(s"$root/anomalies")

    stats
  }

  /**
   * B3 — the anomaly side-table, one row per routed log (the reference
   * persists every prediction, anomalous or not:
   * LogProcessorServiceTest.java:506-533). The features JSON (G14) is
   * built from the stored enrich flags rather than written twice. For a
   * routed row they are the flags of its `message`: routed means `text`
   * is not null, and the flags were computed from that same message.
   */
  def anomalies(logs: DataFrame): DataFrame =
    logs.select(
      col("id").as("log_id"),
      col("anomaly_score"),
      col("is_anomaly"),
      col("confidence"),
      col("model_version"),
      Score.featuresJsonOf(col("message_length"), col("severity"), col("service"),
        col("has_exception"), col("has_timeout"), col("has_connection")).as("features"),
      col("processed_at").as("detected_at"))

  /** Routed (accepted) log records — partition-pruned to skip REJECTED;
    * reconstructs `message` from the sparse `message_trunc` column. */
  def logs(spark: SparkSession, root: String): DataFrame =
    logs(spark.read.parquet(s"$root/routed"))

  /** [[logs]] over an already-opened routed sink. */
  def logs(routed: DataFrame): DataFrame =
    routed
      .filter(col("severity") =!= RejectedPartition)
      .withColumn("message", coalesce(col("message_trunc"), col("text")))
      .drop("message_trunc")

  /**
   * C2 — typed read-back: sink rows rehydrated as `Dataset[LogRecord]`
   * (the reference's hit→DTO conversion,
   * `service/ElasticsearchService.java:348-367`, without the per-field
   * null-guard boilerplate — Encoders do it).
   */
  def logsTyped(spark: SparkSession, root: String): org.apache.spark.sql.Dataset[graft.Schemas.LogRecord] = {
    import spark.implicits._
    logs(spark, root)
      .select(col("id"), col("url"), col("ts").as("timestamp"), col("severity"),
        col("service"), col("message"), col("text"), col("lang"), col("environment"))
      .as[graft.Schemas.LogRecord]
  }

  /** Dead-letter rows (B4) with their reject reasons. */
  def rejected(spark: SparkSession, root: String): DataFrame =
    spark.read.parquet(s"$root/routed")
      .filter(col("severity") === RejectedPartition)
      .select(col("url"), col("reject_reason").as("reason"))

  /**
   * F7 — per-sink aggregates over the routed sink (read-back; severity is
   * a partition column so per-severity queries are partition-pruned),
   * in severity order.
   */
  def sinkAggregates(spark: SparkSession, root: String): DataFrame =
    sinkAggregates(logs(spark, root))

  /** [[sinkAggregates]] over [[logs]] of an opened sink. */
  def sinkAggregates(logs: DataFrame): DataFrame =
    logs
      .groupBy("severity")
      .agg(
        count(lit(1)).as("doc_count"),
        countDistinct(col("service")).as("distinct_hosts"),
        round(avg(col("anomaly_score")), 4).as("avg_score"),
        count(when(col("is_anomaly"), 1)).as("anomaly_count"),
        count(when(col("alert"), 1)).as("alert_count"))
      .coalesce(1).sortWithinPartitions("severity")

  /**
   * J7 — per-written-file lineage (each file = one write task/partition):
   * the per-partition lineage rows the checkpoint table records, in
   * (severity, file) order.
   */
  def lineage(spark: SparkSession, root: String): DataFrame =
    lineage(logs(spark, root))

  /** [[lineage]] over [[logs]] of an opened sink. */
  def lineage(logs: DataFrame): DataFrame =
    logs
      .groupBy(col("severity"), input_file_name().as("file"))
      .agg(count(lit(1)).as("rows"))
      .coalesce(1).sortWithinPartitions("severity", "file")
}
