package etlbench

import java.time.Instant
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.TaskContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import graft.ingest.{HttpTokenFetcher, ReportSource, TokenManager}

/** In-memory spans recorded from outside the program, around the calls the
  * benchmark makes into each layer. Spans live in this JVM-wide object so
  * the wrappers below record into it from any thread, including the Spark
  * task threads of distributed mode (local master: same JVM). They are
  * written out when the run ends.
  */
object Trace {

  /** `attrs` carries report, call, attempt, partition, bytes and error. */
  final case class Span(id: Long, name: String, parent: Long, startNs: Long, endNs: Long,
      runId: String, attrs: Map[String, String] = Map.empty) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  private val offsetNs: Long = {
    val now = Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano - System.nanoTime()
  }

  /** Wall-clock epoch nanoseconds on the monotonic clock. */
  def wallNs(): Long = System.nanoTime() + offsetNs

  private val ids = new AtomicLong
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val attempts = new ConcurrentHashMap[String, AtomicInteger]()
  private val idToReport = new ConcurrentHashMap[String, String]()

  @volatile var runId: String = ""
  /** Parent of the spans recorded by the wrappers (the fan-out span). */
  @volatile var callParent: Long = -1L

  def nextId(): Long = ids.incrementAndGet()

  def add(s: Span): Unit = spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  def clearSpans(): Unit = spans.clear()

  /** Time `body` as a span named `name` under `parent`. */
  def span[T](name: String, parent: Long, id: Long = nextId())(body: => T): T = {
    val t0 = wallNs()
    try body
    finally add(Span(id, name, parent, t0, wallNs(), runId))
  }

  /** Spark partition of the calling task thread, -1 on the driver. Read
    * where the per-partition client is built: the calls themselves run on
    * the orchestrator's pool, where no TaskContext is set.
    */
  def partition(): String = Option(TaskContext.get()).map(_.partitionId().toString).getOrElse("-1")

  /** Record one remote call of a report; `bytes` measures a success. */
  def call[T](callName: String, report: String, partition: String)(body: => T)(bytes: T => Long): T = {
    val attempt = attempts.computeIfAbsent(s"$callName|$report", _ => new AtomicInteger).incrementAndGet()
    val t0 = wallNs()
    def done(extra: (String, String)*): Unit =
      add(Span(nextId(), s"http.$callName", callParent, t0, wallNs(), runId,
        Map("report" -> report, "call" -> callName, "attempt" -> attempt.toString,
          "partition" -> partition) ++ extra))
    try {
      val out = body
      done("ok" -> "true", "bytes" -> bytes(out).toString)
      out
    } catch {
      case e: Throwable =>
        done("ok" -> "false", "error" -> String.valueOf(e.getMessage).take(120))
        throw e
    }
  }

  def reportOfId(id: String): String = Option(idToReport.get(id)).getOrElse(id)
  def rememberId(id: String, report: String): Unit = idToReport.put(id, report)

  /** Token fetch function for `TokenManager` that records a span. */
  def timedFetch(tokenUrl: String): () => TokenManager.Token = {
    val part = partition()
    () => {
      val t0 = wallNs()
      try HttpTokenFetcher.fetch(tokenUrl, Script.ClientId, Script.ClientSecret)
      finally add(Span(nextId(), "token.fetch", callParent, t0, wallNs(), runId, Map("partition" -> part)))
    }
  }
}

/** Timing `ReportSource` around the real HTTP client. The string length of
  * a download is its byte count, because the stub serves ASCII.
  */
final class TimedSource(inner: ReportSource) extends ReportSource {
  private val partition = Trace.partition()

  override def generateReport(token: String, reportName: String, fromDate: String, toDate: String): String = {
    val id = Trace.call(Script.Generate, reportName, partition)(
      inner.generateReport(token, reportName, fromDate, toDate))(_ => 0L)
    Trace.rememberId(id, reportName)
    id
  }

  override def downloadReport(token: String, reportId: String): String =
    Trace.call(Script.Download, Trace.reportOfId(reportId), partition)(
      inner.downloadReport(token, reportId))(_.length.toLong)
}

/** Counts Spark jobs; drained with `PlanBridge.drainListenerBus` before each read. */
final class JobCounter extends SparkListener {
  val jobs = new AtomicInteger
  override def onJobStart(jobStart: SparkListenerJobStart): Unit = jobs.incrementAndGet()
}

/** Self time and coverage over a finished span tree. */
object SpanTree {

  /** Total length of the union of intervals, clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s0, e0) <- intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(i => i._1 < i._2).sortBy(_._1)) {
      if (s0 > curE) {
        if (curE > curS) total += curE - curS
        curS = s0; curE = e0
      } else if (e0 > curE) curE = e0
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Per span name: count, total ms and self ms (duration minus the part
    * its children cover), in first-seen order.
    */
  def table(spans: Seq[Trace.Span]): Seq[(String, Int, Double, Double)] = {
    val children = spans.groupBy(_.parent)
    val rows = spans.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs))
      (s.name, s.endNs - s.startNs, s.endNs - s.startNs - covered(kids, s.startNs, s.endNs))
    }
    val order = spans.sortBy(_.startNs).map(_.name).distinct
    order.map { n =>
      val rs = rows.filter(_._1 == n)
      (n, rs.size, rs.map(_._2).sum / 1e6, rs.map(_._3).sum / 1e6)
    }
  }
}
