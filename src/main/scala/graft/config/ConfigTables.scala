package graft.config

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.{EndpointConfig, ReportConfig}

/** Config relational layer — SURVEY §2 A1–A5.
  *
  * The reference stores report/endpoint config in two small Delta tables and
  * runs `enabled AND env` filter scans plus one inner equi-join on
  * `endpoint_type` (`databricks/talkdesk_databricks_etl_distributed.py:42-53`,
  * `databricks/talkdesk_databricks_etl.py:191-200`). Both relations are
  * literal seed rows of bounded size (tens of rows), so the rebuild resolves
  * the filters and the join in Scala ([[reportSpecs]]) and hands Spark
  * the result as one local relation ([[resolvedReportSpecs]]): collecting
  * it runs no Spark job. A join of two local relations is not folded by
  * the optimizer, so the same join in Catalyst cost a broadcast job and a
  * collect job per `Orchestrator.tasksFor`. The filter-scan and join shapes themselves stay
  * oracle-gated over TPC-H tables (`Queries.a1FilterScan`…`a4LookupJoin`).
  */
object ConfigTables {

  /** One resolved report: its config row joined with its endpoint's, in the
    * column order of the reference's join (key first, then the report's
    * columns, then the endpoint's).
    */
  final case class ReportSpec(
      endpoint_type: String,
      report_name: String,
      enabled: Boolean,
      retries: Int,
      timeout_sec: Int,
      env: String,
      base_url: String,
      auth_endpoint: String,
      post_endpoint: String,
      get_endpoint: String)

  /** Seed rows mirroring the reference's seeded workload
    * (`ddl/ddl_talkdesk_config.py:37-89`): 8 reports × 2 envs, standard
    * endpoint per env — the reference's multi-row INSERT VALUES.
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

  /** A1–A4 over the seed rows: the `enabled = true AND env = <env>` filter
    * scan on reports (A1), the `env = <env>` filter on endpoints (A2) and
    * the inner equi-join on `endpoint_type` (A3) with the reference's
    * "first matching endpoint" lookup semantics
    * (`databricks/talkdesk_databricks_etl.py:536-543`, A4), in seed order.
    * The DSv2 `ReportScan` plans one partition per spec.
    */
  def reportSpecs(env: String): Seq[ReportSpec] = {
    val endpoints = seedEndpoints.filter(_.env == env).distinctBy(_.endpoint_type)
      .map(e => e.endpoint_type -> e).toMap
    for {
      r <- seedReports if r.enabled && r.env == env
      e <- endpoints.get(r.endpoint_type)
    } yield ReportSpec(r.endpoint_type, r.report_name, r.enabled, r.retries, r.timeout_sec, r.env,
      e.base_url, e.auth_endpoint, e.post_endpoint, e.get_endpoint)
  }

  /** [[reportSpecs]] as one local relation. */
  def resolvedReportSpecs(spark: SparkSession, env: String): DataFrame = {
    import spark.implicits._
    reportSpecs(env).toDF()
  }
}
