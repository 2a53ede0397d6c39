package etlbench

import java.net.{InetAddress, InetSocketAddress, URLDecoder}
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.{AtomicInteger, LongAdder}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, ThreadFactory, TimeUnit}

import com.sun.net.httpserver.{HttpExchange, HttpServer}

/** In-process stub of the Talkdesk Explore API on 127.0.0.1, speaking the
  * wire protocol `HttpReportSource` and `HttpTokenFetcher` use:
  *
  *  - POST /oauth/token (form client credentials) -> `access_token`
  *  - POST /reports/generate (JSON, bearer) -> `report_id`
  *  - GET  /reports/download?report_id=... (bearer) -> CSV
  *
  * What it serves comes from a [[Script]]. The scripted latency is injected
  * by scheduling the response on one scheduler thread, which then hands the
  * write to the worker pool: no server thread ever sleeps. The JDK server's
  * dispatcher plus the workers make `nproc` server threads in all.
  */
final class StubServer(script: Script) extends AutoCloseable {
  import StubServer._

  private val workers = math.max(1, Runtime.getRuntime.availableProcessors() - 1)
  private val pool = Executors.newFixedThreadPool(workers, daemon("stub-worker"))
  private val scheduler = Executors.newSingleThreadScheduledExecutor(daemon("stub-scheduler"))
  private val payloads = new ConcurrentHashMap[String, Array[Byte]]()
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val counts = new ConcurrentHashMap[String, LongAdder]()

  /** One record per answered request, stub-side timing included. */
  val served = new ConcurrentLinkedQueue[Served]()

  private val server = HttpServer.create(new InetSocketAddress(InetAddress.getLoopbackAddress, 0), 4096)
  server.setExecutor(pool)
  server.createContext("/oauth/token", (ex: HttpExchange) => handle(ex)(token))
  server.createContext("/reports/generate", (ex: HttpExchange) => handle(ex)(generate))
  server.createContext("/reports/download", (ex: HttpExchange) => handle(ex)(download))
  server.start()

  val baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  val tokenUrl: String = s"$baseUrl/oauth/token"

  /** Build every payload up front, so the timed job never waits on it. */
  def preload(): this.type = {
    script.reportNames.foreach(payloadOf)
    this
  }

  def payloadOf(report: String): Array[Byte] = payloads.computeIfAbsent(report, r => script.payload(r))

  def count(key: String): Long = Option(counts.get(key)).map(_.sum()).getOrElse(0L)

  private def bump(key: String, n: Long = 1L): Unit =
    counts.computeIfAbsent(key, _ => new LongAdder).add(n)

  private def nextAttempt(call: String, report: String): Int =
    attempts.computeIfAbsent(s"$call|$report", _ => new AtomicInteger).incrementAndGet()

  private def bearerOk(ex: HttpExchange): Boolean =
    ex.getRequestHeaders.getFirst("Authorization") == s"Bearer ${script.accessToken}"

  private def token(ex: HttpExchange, body: String): Routed = {
    val ok = body.contains(s"client_id=${Script.ClientId}") && body.contains(s"client_secret=${Script.ClientSecret}")
    if (ok) Routed("token", "-", 0, Reply(200,
      s"""{"access_token": "${script.accessToken}", "expires_in": 3600}""".getBytes(StandardCharsets.UTF_8),
      "application/json", 0))
    else Routed("token", "-", 0, unauthorized)
  }

  private def generate(ex: HttpExchange, body: String): Routed =
    ReportName.findFirstMatchIn(body).map(_.group(1)).filter(script.faults.contains) match {
      case Some(report) if bearerOk(ex) =>
        val attempt = nextAttempt(Script.Generate, report)
        Routed(Script.Generate, report, attempt, script.generate(report, attempt))
      case Some(report) => Routed(Script.Generate, report, 0, unauthorized)
      case None => Routed(Script.Generate, "-", 0, notFound)
    }

  private def download(ex: HttpExchange, body: String): Routed = {
    val id = Option(ex.getRequestURI.getRawQuery).toSeq.flatMap(_.split('&'))
      .collectFirst { case q if q.startsWith("report_id=") =>
        URLDecoder.decode(q.stripPrefix("report_id="), StandardCharsets.UTF_8) }
    id.flatMap(script.reportOfId) match {
      case Some(report) if bearerOk(ex) =>
        val attempt = nextAttempt(Script.Download, report)
        Routed(Script.Download, report, attempt, script.download(report, attempt, payloadOf(report)))
      case Some(report) => Routed(Script.Download, report, 0, unauthorized)
      case None => Routed(Script.Download, "-", 0, notFound)
    }
  }

  private def handle(ex: HttpExchange)(route: (HttpExchange, String) => Routed): Unit = {
    val t0 = System.nanoTime()
    val body = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    val r = route(ex, body)
    val send: Runnable = () => respond(ex, r, t0)
    if (r.reply.delayMs <= 0) send.run()
    else scheduler.schedule((() => pool.execute(send)): Runnable, r.reply.delayMs.toLong, TimeUnit.MILLISECONDS)
  }

  private def respond(ex: HttpExchange, r: Routed, t0: Long): Unit = {
    val bytes = r.reply.body
    try {
      ex.getResponseHeaders.add("Content-Type", r.reply.contentType)
      ex.sendResponseHeaders(r.reply.status, bytes.length.toLong)
      ex.getResponseBody.write(bytes)
    } finally ex.close()
    bump(s"${r.call}.requests")
    bump(s"status.${r.reply.status}")
    if (r.call == Script.Download && r.reply.status == 200) bump("download.bytes", bytes.length.toLong)
    served.add(Served(r.call, r.report, r.attempt, r.reply.status, t0, System.nanoTime(), bytes.length))
  }

  override def close(): Unit = {
    server.stop(0)
    scheduler.shutdownNow()
    pool.shutdownNow()
    scheduler.awaitTermination(10, TimeUnit.SECONDS)
    pool.awaitTermination(10, TimeUnit.SECONDS)
  }
}

object StubServer {
  /** Stub-side record of one request: from handler entry to body written. */
  final case class Served(call: String, report: String, attempt: Int, status: Int,
      startNs: Long, endNs: Long, bytes: Int)

  private final case class Routed(call: String, report: String, attempt: Int, reply: Reply)

  private val ReportName = """"report_name"\s*:\s*"([^"]+)"""".r
  private val unauthorized = Reply(401, """{"error": "unauthorized"}""".getBytes(StandardCharsets.UTF_8), "application/json", 0)
  private val notFound = Reply(404, """{"error": "unknown report"}""".getBytes(StandardCharsets.UTF_8), "application/json", 0)

  private def daemon(prefix: String): ThreadFactory = {
    val n = new AtomicInteger
    (r: Runnable) => {
      val t = new Thread(r, s"$prefix-${n.incrementAndGet()}")
      t.setDaemon(true)
      t
    }
  }
}
