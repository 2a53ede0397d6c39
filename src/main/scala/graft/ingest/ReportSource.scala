package graft.ingest

/** Report source abstraction — SURVEY §2 C2/C3.
  *
  * The reference's data source is two REST calls per report:
  * POST `{report_name, from, to}` → `report_id`
  * (`databricks/talkdesk_databricks_etl.py:330-354`), then
  * GET `Accept: text/csv` → raw CSV text (`:357-382`). This trait captures
  * exactly that contract; implementations must be Serializable so the
  * distributed orchestrator can ship them to executors.
  *
  * Two implementations ship: [[HttpReportSource]], the wire client on
  * `java.net.http`, and [[FakeReportSource]], a deterministic in-process
  * issuer that preserves every observable behavior (report-id
  * indirection, CSV payload with header, empty-payload and failure paths)
  * for runs without a Talkdesk endpoint. Each call is one attempt;
  * `Orchestrator.fetchReport` retries and times out every caller's calls.
  */
trait ReportSource extends Serializable {
  /** POST /reports/generate — returns an opaque report id. */
  def generateReport(token: String, reportName: String, fromDate: String, toDate: String): String

  /** GET /reports/download — returns raw CSV text (header + data rows). */
  def downloadReport(token: String, reportId: String): String
}

/** Deterministic fake: payload is a pure function of (report, from, to).
  * Mirrors the shape of a Talkdesk Explore CSV export (header row + typed
  * columns, `databricks/talkdesk_databricks_etl.py:437`) and the reference's
  * failure paths: a report named with suffix `_fail` throws a retriable
  * error every time (exhausts retries → FAILED row), `_empty` returns a
  * header-only CSV (the no-data path,
  * `databricks/talkdesk_databricks_etl.py:424-434`).
  */
final class FakeReportSource(rowsPerReport: Int = 100) extends ReportSource {

  override def generateReport(token: String, reportName: String, fromDate: String, toDate: String): String = {
    require(token.nonEmpty, "missing bearer token")
    if (reportName.endsWith("_fail"))
      throw Retry.RetriableFailure(s"HTTP 503 generating $reportName")
    s"$reportName|$fromDate|$toDate"
  }

  override def downloadReport(token: String, reportId: String): String = {
    require(token.nonEmpty, "missing bearer token")
    val Array(name, from, to) = reportId.split('|')
    val header = "date,queue,calls,answered,abandoned"
    if (name.endsWith("_empty")) header + "\n"
    else {
      val rows = (0 until rowsPerReport).map { i =>
        // deterministic per (name, from, i): stable across runs and modes
        val h = math.abs((name + from + i).hashCode)
        s"$from,queue_${h % 7},${h % 1000},${h % 800},${h % 50}"
      }
      (header +: rows).mkString("\n") + "\n"
    }
  }
}
