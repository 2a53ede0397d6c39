package graft.ingest

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.net.URLEncoder
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.ConcurrentHashMap
import com.fasterxml.jackson.databind.ObjectMapper

/** HTTP implementation of [[ReportSource]] — the wire protocol of the
  * reference's Explore API client re-expressed on `java.net.http`:
  *
  *  - POST `{post_endpoint}` with JSON `{report_name, from, to}` and a
  *    bearer token → JSON `{report_id}`
  *    (`databricks/talkdesk_databricks_etl.py:330-354`)
  *  - GET `{get_endpoint}?report_id=…` with `Accept: text/csv` → raw CSV
  *    (`databricks/talkdesk_databricks_etl.py:357-382`)
  *
  * HTTP status classification matches the reference's retry semantics
  * (`local/async_utils.py:91-95`): 5xx/429 raise [[Retry.RetriableFailure]]
  * (the orchestrator's retry shell backs off and re-calls), other non-2xx
  * raise [[Retry.TerminalFailure]]. JSON decode uses jackson-databind (on
  * the Spark classpath).
  *
  * Serializable, and every instance in a JVM — built there or deserialized
  * there — sends through that JVM's one shared `HttpClient`
  * ([[HttpReportSource.sharedClient]]), so connections are pooled per
  * executor, not per partition.
  */
final class HttpReportSource(
    baseUrl: String,
    postEndpoint: String = "/reports/generate",
    getEndpoint: String = "/reports/download",
    private[graft] val timeoutSec: Int = 30) extends ReportSource {

  @transient private lazy val client: HttpClient = HttpReportSource.sharedClient(timeoutSec)
  @transient private lazy val mapper = new ObjectMapper()

  private def classify(status: Int, body: String, context: String): Nothing =
    Retry.failStatus(status, s"HTTP $status on $context: ${body.take(200)}")

  override def generateReport(token: String, reportName: String, fromDate: String, toDate: String): String = {
    val payload = mapper.createObjectNode()
    payload.put("report_name", reportName)
    payload.put("from", fromDate)
    payload.put("to", toDate)
    val req = HttpRequest.newBuilder(URI.create(baseUrl + postEndpoint))
      .timeout(Duration.ofSeconds(timeoutSec.toLong))
      .header("Authorization", s"Bearer $token")
      .header("Content-Type", "application/json")
      .POST(HttpRequest.BodyPublishers.ofString(payload.toString))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2) classify(resp.statusCode(), resp.body(), s"generate $reportName")
    val node = mapper.readTree(resp.body()).get("report_id")
    if (node == null) throw Retry.TerminalFailure(s"no report_id in response: ${resp.body().take(200)}")
    node.asText()
  }

  override def downloadReport(token: String, reportId: String): String = {
    val url = s"$baseUrl$getEndpoint?report_id=${URLEncoder.encode(reportId, StandardCharsets.UTF_8)}"
    val req = HttpRequest.newBuilder(URI.create(url))
      .timeout(Duration.ofSeconds(timeoutSec.toLong))
      .header("Authorization", s"Bearer $token")
      .header("Accept", "text/csv")
      .GET()
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    if (resp.statusCode() / 100 != 2) classify(resp.statusCode(), resp.body(), s"download $reportId")
    resp.body()
  }

  /** visible for tests */
  private[ingest] def httpClient: HttpClient = client
}

object HttpReportSource {
  private val clients = new ConcurrentHashMap[Int, HttpClient]()

  /** The JVM's one `HttpClient` per connect timeout, shared by every
    * [[HttpReportSource]] and by [[HttpTokenFetcher.fetch]]. With a client
    * per source (one per partition, never released), fault-free runs of
    * the 1,000-report `fleet` bench workload retried calls that failed
    * with "header parser received no bytes", each paying a 1 s backoff —
    * most likely the finished partitions' idle keep-alive connections
    * filling the server's idle-connection cap, so that it closed
    * connections the live clients then reused. With one shared client
    * those runs retried no call.
    */
  def sharedClient(connectTimeoutSec: Int): HttpClient =
    clients.computeIfAbsent(connectTimeoutSec, t =>
      HttpClient.newBuilder().connectTimeout(Duration.ofSeconds(t.toLong)).build())
}

/** OAuth2 client-credentials fetch (`databricks/talkdesk_databricks_etl.py:92-115`):
  * POST form payload → JSON `access_token` / `expires_in` (default 3600).
  * Plug into [[TokenManager]]: `new TokenManager(() => HttpTokenFetcher.fetch(...))`.
  */
object HttpTokenFetcher {
  def fetch(tokenUrl: String, clientId: String, clientSecret: String,
      timeoutSec: Int = 30): TokenManager.Token = {
    val mapper = new ObjectMapper()
    def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
    val form = s"grant_type=client_credentials&client_id=${enc(clientId)}&client_secret=${enc(clientSecret)}"
    val client = HttpReportSource.sharedClient(timeoutSec)
    val req = HttpRequest.newBuilder(URI.create(tokenUrl))
      .timeout(Duration.ofSeconds(timeoutSec.toLong))
      .header("Content-Type", "application/x-www-form-urlencoded")
      .POST(HttpRequest.BodyPublishers.ofString(form))
      .build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    // same classification as the report calls: bad credentials (401)
    // must fail fast, not burn the retry budget
    if (resp.statusCode() / 100 != 2)
      Retry.failStatus(resp.statusCode(), s"HTTP ${resp.statusCode()} fetching token")
    val root = mapper.readTree(resp.body())
    val access = root.get("access_token")
    if (access == null) throw Retry.TerminalFailure("no access_token in token response")
    val expires = Option(root.get("expires_in")).map(_.asLong()).getOrElse(3600L)
    TokenManager.Token(access.asText(), expires)
  }
}
