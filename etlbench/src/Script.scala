package etlbench

import java.sql.Timestamp
import java.time.{LocalDate, ZoneOffset}
import scala.util.hashing.MurmurHash3

import graft.config.ConfigTables
import graft.model.{JobRun, ReportRun, Status}

/** One benchmark workload: which reports the job fetches, how big their
  * payloads are, whether the stub injects faults, and which fan-out mode
  * the job runs in. Every workload is a closed loop with one client (the
  * job driver) running one job at a time.
  */
final case class Workload(
    name: String,
    mode: String,          // "driver" | "distributed"
    reports: Int,
    rows: Int,
    faults: Boolean,
    seededConfig: Boolean) // tasks come from Orchestrator.tasksFor, not generated

object Workload {
  val all: Seq[Workload] = Seq(
    // the reference's stated driver envelope: fixed Spark cost dominates
    Workload("envelope", "driver", 8, 10000, faults = false, seededConfig = true),
    // the stated upper bound: body transfer, decode, count and write dominate
    Workload("bulk", "driver", 50, 50000, faults = false, seededConfig = false),
    // hundreds-to-thousands of reports through the unbounded driver fan-out
    // under a scripted 5xx/429 storm: retry, pool hand-offs and backoff
    Workload("storm", "driver", 1000, 100, faults = true, seededConfig = false),
    // the same report set on runDistributed, the only distributed workload
    Workload("fleet", "distributed", 1000, 100, faults = false, seededConfig = false))

  def byName(name: String): Workload = all.find(_.name == name)
    .getOrElse(throw new IllegalArgumentException(
      s"unknown workload $name (one of ${all.map(_.name).mkString(", ")})"))
}

/** Scripted fault of one report. */
sealed trait Fault
object Fault {
  case object Clean extends Fault
  case object Generate503Once extends Fault
  case object Download429Once extends Fault
  case object Generate503Always extends Fault
  case object HeaderOnly extends Fault
}

/** What the stub answers to one request. */
final case class Reply(status: Int, body: Array[Byte], contentType: String, delayMs: Int)

/** The stub's whole behaviour as a pure function of (seed, report, call,
  * attempt): payloads, fault classes, latencies and the expected outcome of
  * every report. Thread interleaving cannot change what the stub serves,
  * because the attempt number is counted per (report, call), not globally.
  */
final class Script(val workload: Workload, val seed: Long) {
  import Script._

  val reportNames: IndexedSeq[String] =
    if (workload.seededConfig)
      ConfigTables.seedReports.filter(r => r.env == Env && r.enabled).map(_.report_name).sorted.toIndexedSeq
    else (1 to workload.reports).map(i => f"report_$i%04d")
  require(reportNames.size == workload.reports,
    s"${workload.name}: ${reportNames.size} reports, expected ${workload.reports}")

  /** Exact fault counts, spread evenly over the report order: each class
    * puts one report in each stratum of n/k reports, at a seeded offset.
    * The fan-out starts reports roughly in order, so a seed that bunched the
    * always-failing reports at the end would lengthen the job by their
    * backoffs while another seed would not: a spread between seeds that
    * says nothing about the program.
    */
  val faults: Map[String, Fault] = {
    val n = reportNames.size
    val classes =
      if (!workload.faults) Seq.empty
      else Seq(
        Fault.Generate503Always -> n / 100,
        Fault.HeaderOnly -> n / 100,
        Fault.Download429Once -> n * 2 / 100,
        Fault.Generate503Once -> n * 5 / 100)
    val rnd = new scala.util.Random(seed * 0x9E3779B97F4A7C15L + 17)
    val assigned = new Array[Fault](n)
    for ((fault, k) <- classes; j <- 0 until k) {
      var i = ((j + rnd.nextDouble()) * n / k).toInt
      while (assigned(i) != null) i = (i + 1) % n
      assigned(i) = fault
    }
    reportNames.indices.map(i => reportNames(i) -> Option(assigned(i)).getOrElse(Fault.Clean)).toMap
  }

  def reportId(report: String): String = s"rid-$seed-$report"

  private val reportById: Map[String, String] = reportNames.map(r => reportId(r) -> r).toMap
  def reportOfId(id: String): Option[String] = reportById.get(id)

  val accessToken: String = s"stub-token-$seed"

  private def hash(parts: Any*): Int = Script.hash(seed, parts: _*)

  /** 1% of calls take 10x the base latency, on fault workloads only. */
  def delayMs(report: String, call: String, attempt: Int): Int = {
    val base = if (call == Generate) GenerateMs else DownloadMs
    val slow = workload.faults && java.lang.Math.floorMod(hash(report, call, attempt), 100) == 0
    if (slow) base * 10 else base
  }

  /** CSV payload shaped like a Talkdesk Explore export. */
  def payload(report: String): Array[Byte] = {
    val sb = new java.lang.StringBuilder(64 + workload.rows * 36)
    sb.append(Header).append('\n')
    if (faults(report) != Fault.HeaderOnly) {
      val rnd = new java.util.SplittableRandom(hash("payload", report).toLong * 0x2545F4914F6CDD1DL + seed)
      var i = 0
      while (i < workload.rows) {
        val calls = 100 + rnd.nextInt(9900)
        val abandoned = rnd.nextInt(100)
        val queue = rnd.nextInt(1000)
        sb.append(FromDate).append(",queue_")
        if (queue < 100) sb.append('0')
        if (queue < 10) sb.append('0')
        sb.append(queue).append(',').append(calls).append(',')
          .append(calls - abandoned).append(',').append(abandoned).append('\n')
        i += 1
      }
    }
    sb.toString.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
  }

  def servedRows(report: String): Int =
    if (faults(report) == Fault.HeaderOnly) 0 else workload.rows

  def generate(report: String, attempt: Int): Reply = {
    val fail = faults(report) match {
      case Fault.Generate503Once => attempt == 1
      case Fault.Generate503Always => true
      case _ => false
    }
    val delay = delayMs(report, Generate, attempt)
    if (fail) Reply(503, json("""{"error": "unavailable"}"""), Json, delay)
    else Reply(200, json(s"""{"report_id": "${reportId(report)}"}"""), Json, delay)
  }

  def download(report: String, attempt: Int, payloadBytes: => Array[Byte]): Reply = {
    val delay = delayMs(report, Download, attempt)
    if (faults(report) == Fault.Download429Once && attempt == 1)
      Reply(429, json("""{"error": "slow down"}"""), Json, delay)
    else Reply(200, payloadBytes, "text/csv", delay)
  }

  /** Whether the script lets this report succeed within the seeded retry
    * budget (3 attempts).
    */
  def expectSuccess(report: String): Boolean = faults(report) match {
    case Fault.Generate503Always | Fault.HeaderOnly => false
    case _ => true
  }

  /** Seven prior daily jobs of this workload's report set, one tuple per
    * job: (RUNNING event, report rows, terminal event), each written as its
    * own append, as the product would have written them. The history is the
    * same for every seed, so one seeded store per build and workload serves
    * every run.
    */
  lazy val history: Seq[(JobRun, Seq[ReportRun], JobRun)] = (1 to HistoryDays).map { k =>
    def h(parts: Any*): Int = java.lang.Math.floorMod(Script.hash(HistorySeed, parts: _*), Int.MaxValue)
    val to = LocalDate.parse(ToDate).minusDays(k.toLong)
    val from = to.minusDays(1)
    val runId = s"hist-${workload.name}-$k"
    val startMs = to.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli +
      2 * 3600 * 1000L + h("hist", k) % 3600 * 1000L
    val reports = reportNames.zipWithIndex.map { case (r, i) =>
      val ok = h("hist", k, r) % 100 >= 2
      val start = new Timestamp(startMs + i * 7L)
      val end = new Timestamp(startMs + i * 7L + 50 + h("dur", k, r) % 400)
      ReportRun(runId, r, from.toString, to.toString, start, end,
        if (ok) Status.Success else Status.Failed,
        if (ok) workload.rows else 0,
        if (ok) None else Some(s"retry exhausted after 3 attempts: HTTP 503 on generate $r"))
    }
    val okN = reports.count(_.status == Status.Success)
    val jobStart = new Timestamp(startMs)
    val running = JobRun(runId, from.toString, to.toString, jobStart, None, Status.Running,
      reports.size, 0, 0, None)
    val terminal = JobRun(runId, from.toString, to.toString, jobStart,
      Some(new Timestamp(reports.map(_.end_time.getTime).max)),
      Status.derive(okN.toLong, (reports.size - okN).toLong), reports.size, okN, reports.size - okN, None)
    (running, reports, terminal)
  }

  /** Digest of everything the stub would serve for attempts 1..3: status,
    * delay and body hash per (report, call, attempt). Two scripts with one
    * seed must agree on it.
    */
  def fingerprint: String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    for (r <- reportNames; a <- 1 to 3) {
      val lazyPayload = payload(r)
      for (reply <- Seq(generate(r, a), download(r, a, lazyPayload))) {
        md.update(s"$r|$a|${reply.status}|${reply.delayMs}|".getBytes)
        md.update(reply.body)
      }
    }
    md.digest().map(b => f"$b%02x").mkString
  }

  private def json(s: String): Array[Byte] = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
}

object Script {
  def hash(seed: Long, parts: Any*): Int =
    MurmurHash3.stringHash(parts.mkString("|"), seed.toInt ^ (seed >>> 32).toInt)

  val HistorySeed = 0L
  val Env = "prod"
  val FromDate = "2024-02-29"
  val ToDate = "2024-03-01"
  val HistoryDays = 7
  val Retries = 3
  val TimeoutSec = 30
  val GenerateMs = 20
  val DownloadMs = 30
  val Generate = "generate"
  val Download = "download"
  val Header = "date,queue,calls,answered,abandoned"
  val ClientId = "bench-client"
  val ClientSecret = "bench-secret"
  private val Json = "application/json"
}
