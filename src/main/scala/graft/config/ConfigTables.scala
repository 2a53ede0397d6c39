package graft.config

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{EndpointConfig, ReportConfig}

/** Config relational layer — SURVEY §2 A1–A5.
  *
  * The reference stores report/endpoint config in two small Delta tables and
  * runs `enabled AND env` filter scans plus one inner equi-join on
  * `endpoint_type` (`databricks/talkdesk_databricks_etl_distributed.py:42-53`,
  * `databricks/talkdesk_databricks_etl.py:191-200`). Both relations are
  * bounded (tens of rows), so broadcast-joining them is always correct at any
  * data scale: the *reports* fan out, the config never does.
  */
object ConfigTables {

  /** Seed rows mirroring the reference's seeded workload
    * (`ddl/ddl_talkdesk_config.py:37-89`): 8 reports × 2 envs, standard
    * endpoint per env. A literal relation — the reference's multi-row INSERT
    * VALUES — becomes `Seq(...).toDS`.
    */
  val seedReports: Seq[ReportConfig] = {
    val names = Seq(
      "agent_activity", "call_volume", "queue_activity", "call_details",
      "inbound_calls", "outbound_calls", "service_level", "call_dispositions")
    for {
      env <- Seq("prod", "dev")
      name <- names
    } yield ReportConfig(
      report_name = name,
      enabled = true,
      endpoint_type = "standard",
      retries = 3,
      timeout_sec = if (name == "call_details") 60 else 30,
      env = env)
  }

  val seedEndpoints: Seq[EndpointConfig] =
    Seq("prod", "dev").map { env =>
      EndpointConfig(
        endpoint_type = "standard",
        base_url = "https://api.example.com/api/v1",
        auth_endpoint = "/oauth/token",
        post_endpoint = "/reports/generate",
        get_endpoint = "/reports/download",
        env = env)
    }

  def reportConfigDs(spark: SparkSession): Dataset[ReportConfig] = {
    import spark.implicits._
    seedReports.toDS()
  }

  def endpointConfigDs(spark: SparkSession): Dataset[EndpointConfig] = {
    import spark.implicits._
    seedEndpoints.toDS()
  }

  /** A1: conjunctive filter scan — `enabled = true AND env = <env>`. The
    * predicate stays in Catalyst expression form so it pushes into a
    * columnar scan when config lives in parquet/Delta.
    */
  def enabledReportsDf(reports: DataFrame, env: String): DataFrame =
    reports.filter(col("enabled") === true && col("env") === env)

  /** A2: equality filter scan on endpoint config. */
  def endpointsForEnv(endpoints: DataFrame, env: String): DataFrame =
    endpoints.filter(col("env") === env)

  /** A3/A4: inner equi-join on `endpoint_type`, with the reference's
    * "first matching endpoint" lookup semantics
    * (`databricks/talkdesk_databricks_etl.py:536-543`) made explicit via
    * `dropDuplicates` before the join. Endpoint side is broadcast — it is a
    * bounded dimension by construction.
    */
  def resolvedReportSpecs(spark: SparkSession, env: String): DataFrame = {
    val reports = enabledReportsDf(reportConfigDs(spark).toDF(), env)
    val endpoints = endpointsForEnv(endpointConfigDs(spark).toDF(), env)
      .dropDuplicates("endpoint_type")
      .drop("env")
    reports.join(broadcast(endpoints), Seq("endpoint_type"), "inner")
  }
}
