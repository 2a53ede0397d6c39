package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import graft.model.{ReportRun, Status}

/** Streaming view of the monitoring feed — the stretch surface SURVEY §2.F
  * marks out: the reference is a batch daily job, but its append-only
  * monitoring stream is naturally a Structured Streaming source; these
  * transforms are the streaming twins of the batch analytics (B1/A7).
  *
  * All are source-agnostic `DataFrame → DataFrame` transforms: production
  * binds them to `spark.readStream.parquet(monitoringDir)` (or Kafka);
  * tests drive them with `MemoryStream`. Watermarking bounds state, so a
  * 1000-executor deployment holds only the open windows per key, never
  * history.
  *
  * The sinks ([[sinkViaForeachBatch]] and the `*Ingest` twins) run through
  * [[Landing.eachBatch]] and land through [[Landing.write]]: a micro-batch
  * overwrites only its own `<zone>/batch=<id>` directory, so a batch that
  * `foreachBatch` replays after a restart rewrites its output instead of
  * landing it twice.
  */
object MonitoringStream {

  /** Streaming B1: tumbling-window job/report counts by status. With the
    * watermark, state per (window, status) is dropped once the window is
    * older than the allowed lateness — O(open windows × statuses) state.
    */
  def windowedStatusCounts(
      reports: DataFrame,
      windowLength: String = "1 day",
      watermarkDelay: String = "1 hour"): DataFrame =
    reports
      .withWatermark("start_time", watermarkDelay)
      .groupBy(window(col("start_time"), windowLength).as("w"), col("status"))
      .agg(count(lit(1)).as("n_reports"), sum(col("rows_written")).as("total_rows"))
      .select(col("w.start").as("window_start"), col("status"),
        col("n_reports"), col("total_rows"))

  /** Streaming A7: per-run rolling status via arbitrary stateful
    * processing. Each run's state holds its ok/fail counts; every incoming
    * report row re-derives the run status — the streaming equivalent of
    * the batch derive-from-storage finalize
    * (`databricks/talkdesk_databricks_etl_distributed.py:258-270`).
    */
  final case class RunProgress(run_id: String, ok: Long, fail: Long, status: String)

  def runningStatus(spark: SparkSession, reports: Dataset[ReportRun]): Dataset[RunProgress] = {
    import spark.implicits._
    reports
      .groupByKey(_.run_id)
      .mapGroupsWithState[(Long, Long), RunProgress](GroupStateTimeout.NoTimeout) {
        case (runId, rows, state: GroupState[(Long, Long)]) =>
          val (ok0, fail0) = state.getOption.getOrElse((0L, 0L))
          var ok = ok0; var fail = fail0
          rows.foreach { r => if (r.status == Status.Success) ok += 1 else fail += 1 }
          state.update((ok, fail))
          RunProgress(runId, ok, fail, Status.derive(ok, fail))
      }
  }

  /** Streaming failure alerting via `flatMapGroupsWithState` — the
    * 0-or-1-outputs-per-batch shape `mapGroupsWithState` can't express:
    * emit ONE alert row the moment a run's cumulative failure count
    * crosses the threshold, and nothing ever again for that run. State
    * per run is two numbers + a latch — bounded regardless of feed size.
    */
  final case class FailureAlert(run_id: String, failed: Long, total_seen: Long)
  final case class AlertState(failed: Long, seen: Long, alerted: Boolean) {

    /** Count `rows` of run `runId` into this state. The alert fires once:
      * in the step where the run's failures first reach `threshold`.
      */
    def step(runId: String, rows: Iterator[ReportRun],
        threshold: Long): (AlertState, Iterator[FailureAlert]) = {
      var f = failed; var n = seen
      rows.foreach { r => n += 1; if (r.status == Status.Failed) f += 1 }
      val fire = !alerted && f >= threshold
      (AlertState(f, n, alerted || fire),
        if (fire) Iterator(FailureAlert(runId, f, n)) else Iterator.empty)
    }
  }

  private val noAlert = AlertState(0L, 0L, alerted = false)

  def failureAlerts(spark: SparkSession, reports: Dataset[ReportRun],
      threshold: Long = 3): Dataset[FailureAlert] = {
    import spark.implicits._
    reports
      .groupByKey(_.run_id)
      .flatMapGroupsWithState[AlertState, FailureAlert](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (runId, rows, state: GroupState[AlertState]) =>
          val (next, alerts) = state.getOption.getOrElse(noAlert).step(runId, rows, threshold)
          state.update(next)
          alerts
      }
  }

  /** The same latched alert semantics on the `transformWithState` API —
    * Spark 4's successor to (flat)mapGroupsWithState: typed named state
    * via a [[org.apache.spark.sql.streaming.StatefulProcessor]], backed by
    * the RocksDB state store (callers set
    * `spark.sql.streaming.stateStore.providerClass` to
    * `...state.RocksDBStateStoreProvider`). Kept alongside the
    * `flatMapGroupsWithState` form so the two APIs' behavior is pinned
    * against each other in tests.
    */
  final class AlertProcessor(threshold: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, ReportRun, FailureAlert] {
    @transient private var state: org.apache.spark.sql.streaming.ValueState[AlertState] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[AlertState]("alert",
        org.apache.spark.sql.Encoders.product[AlertState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[ReportRun],
        timers: org.apache.spark.sql.streaming.TimerValues): Iterator[FailureAlert] = {
      val (next, alerts) =
        (if (state.exists()) state.get() else noAlert).step(key, rows, threshold)
      state.update(next)
      alerts
    }
  }

  def failureAlertsTws(spark: SparkSession, reports: Dataset[ReportRun],
      threshold: Long = 3): Dataset[FailureAlert] = {
    import spark.implicits._
    reports
      .groupByKey(_.run_id)
      .transformWithState(new AlertProcessor(threshold),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** Streaming exact dedup for a document feed: drop rows whose text
    * fingerprint was already seen within the watermark horizon
    * (`dropDuplicatesWithinWatermark` keeps state bounded — dedup state
    * for a fingerprint is dropped once the watermark passes it, so a
    * 100 TB/day feed holds only the horizon's fingerprints, not history).
    * Expects columns (doc_id, text, event_time).
    */
  def streamingDedup(docs: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    docs
      .withColumn("fp", org.apache.spark.sql.functions.md5(
        org.apache.spark.sql.functions.trim(
          org.apache.spark.sql.functions.regexp_replace(
            org.apache.spark.sql.functions.lower(col("text")), "\\s+", " "))))
      .withWatermark("event_time", watermarkDelay)
      .dropDuplicatesWithinWatermark("fp")

  /** Streaming sessionization: gap-based sessions per user via
    * `session_window` — the streaming twin of the batch
    * [[graft.Queries.eventsSessionize]] (same 1-hour-inactivity
    * definition). Sessions merge as events arrive and CLOSE once the
    * watermark passes start + gap, so state is O(open sessions per key),
    * never history — the shape that survives an unbounded event feed.
    * Expects columns (user_id, ts, value); append mode emits each session
    * exactly once, when it closes.
    */
  def sessionizedActivity(
      events: DataFrame,
      gap: String = "1 hour",
      watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_events"),
        round(graft.functions.Exact.sumQC(col("value"), 2), 3).as("total_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("total_value"))

  /** Stream–stream interval join — the streaming twin of the batch
    * bucketed interval join ([[graft.operators.ScaleOps.intervalJoin]]):
    * pair each left event with right events of the same key within
    * `gap`. Both sides carry watermarks and the join condition bounds
    * the time range, so Spark can expire buffered rows once the
    * watermark passes `ts ± gap` — state is O(events inside the horizon)
    * per key, never history. Expects (key, ts, …) on both sides; output
    * joins every left column with the right side's `r_ts` and payload.
    */
  def streamIntervalJoin(
      left: DataFrame, right: DataFrame, key: String,
      gap: String = "1 hour", watermarkDelay: String = "1 hour"): DataFrame = {
    val l = left.withWatermark("ts", watermarkDelay)
    val r = right.toDF(right.columns.toIndexedSeq.map(c => s"r_$c"): _*)
      .withWatermark("r_ts", watermarkDelay)
    l.join(r,
      col(key) === col(s"r_$key") &&
        col("r_ts") >= col("ts") - expr(s"INTERVAL $gap") &&
        col("r_ts") <= col("ts") + expr(s"INTERVAL $gap"))
      .drop(s"r_$key")
  }

  /** Continuous-ingestion sink (SURVEY A12's `foreachBatch` form): land
    * each micro-batch of report results through ONE batched write — the
    * streaming analog of the batch orchestrator's one-append-per-run
    * discipline. Returns the started query; caller owns its lifecycle.
    */
  def sinkViaForeachBatch(reports: DataFrame, dir: String,
      checkpoint: String): StreamingQuery =
    Landing.eachBatch(reports, checkpoint)((batch, batchId, _) =>
      Landing.write(batch, dir, batchId))

  /** Bind the windowed analytics to a parquet monitoring directory as a
    * real file stream (the production wiring).
    */
  def fromParquetDir(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.Encoders.product[ReportRun].schema
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Streaming twin of [[graft.Queries.eventsAnomaly]]: each event
    * micro-batch collapses to per-(type, day) PARTIAL counts landed
    * batch-id-keyed with OVERWRITE (replay-idempotent across checkpoint
    * restarts — a replayed batch rewrites the same partition, never
    * double-counts), plus a one-row alert summary per batch
    * (`n_anomalies`, `max_abs_z` over the landed zone so far) — the
    * drift history an on-call pages from. Only day-level counts persist;
    * raw events never land.
    *
    * Mid-stream the scores are the honest partial answer (each day
    * scored against the baseline observed SO FAR); once a day's events
    * have fully arrived the totals — and therefore [[anomalyView]] —
    * equal the batch operator exactly.
    *
    * Scale shape: the per-batch aggregation is map-side combinable down
    * to days × types rows, and the view re-aggregates partial counts
    * (days × types × batches rows, kilobytes) — the raw event volume
    * never accumulates anywhere.
    */
  def anomalyIngest(events: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    Landing.eachBatch(events, checkpointDir) { (batch, batchId, _) =>
      Landing.write(batch.select(col("event_type"), to_date(col("ts")).as("day"))
        .groupBy(col("event_type"), col("day"))
        .agg(count(lit(1)).as("n")), s"$outDir/counts", batchId)
      Landing.write(anomalyView(batch.sparkSession, outDir)
        .agg(count(when(col("is_anomaly"), 1)).as("n_anomalies"),
          coalesce(max(abs(col("z"))), lit(0.0)).as("max_abs_z")),
        s"$outDir/alert_history", batchId)
    }

  /** Read-time anomaly scores over [[anomalyIngest]]'s landed zone: sum
    * the partial daily counts, then run the batch scoring core — at full
    * arrival this IS [[graft.Queries.eventsAnomaly]]'s output.
    */
  def anomalyView(spark: SparkSession, outDir: String): DataFrame =
    graft.Queries.anomalyScores(
      spark.read.parquet(s"$outDir/counts")
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n")))

  /** EWMA scores over the SAME landed zone [[anomalyIngest]] maintains —
    * daily partial counts are scorer-agnostic, so the trend-adaptive
    * detector ([[graft.Queries.eventsEwma]]) rides the existing ingest
    * for free: one landing, two monitors. At full arrival this IS the
    * batch operator's output.
    */
  def ewmaView(spark: SparkSession, outDir: String): DataFrame =
    graft.Queries.ewmaScores(
      spark.read.parquet(s"$outDir/counts")
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n")))

  /** Holt forecast over the SAME landed zone — the third scorer riding
    * [[anomalyIngest]]'s daily partial counts (landing is scorer-
    * agnostic): detectors look back, this projects the next 7 days.
    * Counts are integers, so partial-count summation is exact and the
    * integer smoothing recurrence ([[graft.Queries.holtForecast]]) sees
    * bit-identical inputs at full arrival — the view then IS the batch
    * operator's output.
    */
  def forecastView(spark: SparkSession, outDir: String): DataFrame =
    graft.Queries.holtForecast(
      spark.read.parquet(s"$outDir/counts")
        .groupBy(col("event_type"), col("day"))
        .agg(sum(col("n")).as("n")))

  /** Streaming twin of [[graft.Queries.eventsCooccurrence]]: each batch
    * lands its DISTINCT (user, day, type) memberships batch-id-keyed
    * (replay-idempotent; a membership is a fact, so re-observing it in a
    * later batch is harmless — the view re-distincts). Day-level
    * membership is all that persists: the event volume never lands.
    *
    * Mid-stream PMI is the honest partial answer over the user-days seen
    * so far; at full arrival [[cooccurrenceView]] equals the batch
    * operator exactly (same distinct-membership frame into the same
    * scoring core).
    */
  def cooccurrenceIngest(events: DataFrame, outDir: String,
      checkpointDir: String): StreamingQuery =
    Landing.eachBatch(events, checkpointDir) { (batch, batchId, _) =>
      Landing.write(batch.select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type")).distinct(), s"$outDir/members", batchId)
    }

  /** Read-time PMI over [[cooccurrenceIngest]]'s landed memberships —
    * re-distinct (a membership may arrive in several batches), then the
    * batch scoring core.
    */
  def cooccurrenceView(spark: SparkSession, outDir: String,
      minSupport: Long = 5): DataFrame =
    graft.Queries.cooccurrenceFromSets(
      spark.read.parquet(s"$outDir/members")
        .select(col("user_id"), col("day"), col("event_type")).distinct(),
      minSupport)
}
