package graft.analytics

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.model.Status

/** Monitoring-analytics layer — the reference's declared query workload
  * (SURVEY §2 B1–B4, `README.md:447-501`). Each query is a pure DataFrame
  * transform over `job_monitoring` / `report_monitoring`.
  *
  * Scale notes: over a multi-partition input all four are single-shuffle
  * aggregations (or a filter+sort for B3); over the one-partition read of
  * `Monitoring.reportMonitoring` they plan no exchange and run one Spark
  * job each. Conditional counts use `sum(when(...))` — one pass,
  * map-side partial aggregation, no self-joins. `asOf` replaces the
  * reference's `date('now')` so results are deterministic and testable.
  */
object MonitoringAnalytics {

  private def isStatus(s: String) = when(col("status") === s, 1).otherwise(0)

  /** B1 (`README.md:447-457`): last-7-days job summary by run date. */
  def jobSummary(jobMonitoring: DataFrame, asOf: java.sql.Date): DataFrame =
    jobMonitoring
      .filter(to_date(col("start_time")) >= date_sub(lit(asOf), 7))
      .groupBy(to_date(col("start_time")).as("run_date"))
      .agg(
        count(lit(1)).as("total_jobs"),
        sum(isStatus(Status.Success)).as("successful"),
        sum(isStatus(Status.PartialSuccess)).as("partial"),
        sum(isStatus(Status.Failed)).as("failed"))
      .orderBy(col("run_date").desc)

  /** B2 (`README.md:462-471`): per-report success/failure over 7 days. */
  def reportStatus(reportMonitoring: DataFrame, asOf: java.sql.Date): DataFrame =
    reportMonitoring
      .filter(to_date(col("start_time")) >= date_sub(lit(asOf), 7))
      .groupBy(col("report_name"))
      .agg(
        count(lit(1)).as("total_runs"),
        sum(isStatus(Status.Success)).as("successful"),
        sum(isStatus(Status.Failed)).as("failed"))
      .orderBy(col("report_name"))

  /** B3 (`README.md:476-486`): recent failure details, newest first. */
  def errorDetails(reportMonitoring: DataFrame, asOf: java.sql.Date): DataFrame =
    reportMonitoring
      .filter(col("status") === Status.Failed &&
        to_date(col("start_time")) >= date_sub(lit(asOf), 7))
      .select("report_name", "from_date", "to_date", "start_time", "error_message")
      .orderBy(col("start_time").desc)

  /** B4 (`README.md:491-501`): daily rows-written by report, mixed-order. */
  def dailyRowCounts(reportMonitoring: DataFrame, asOf: java.sql.Date): DataFrame =
    reportMonitoring
      .filter(col("status") === Status.Success &&
        to_date(col("start_time")) >= date_sub(lit(asOf), 7))
      .groupBy(to_date(col("start_time")).as("run_date"), col("report_name"))
      .agg(sum(col("rows_written")).as("total_rows"))
      .orderBy(col("run_date").desc, col("report_name").asc)
}
