package graft.run

import java.sql.Timestamp
import java.time.Instant
import java.util.UUID
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success => TrySuccess, Try}
import org.apache.spark.sql.SparkSession
import graft.config.ConfigTables
import graft.ingest.{CsvIO, ReportSource, Retry, TokenManager}
import graft.model.{JobRun, ReportRun, Status}

/** Orchestration core — SURVEY §2 E1–E5, A11–A13.
  *
  * One engine, two execution modes that collapse the reference's three
  * variants:
  *
  *  - [[runDriverParallel]] ≈ the asyncio-on-driver variant
  *    (`databricks/talkdesk_databricks_etl.py:527-558`): `Future.traverse`
  *    fans out one task per report, a shared [[TokenManager]] caches the
  *    OAuth token, every task is isolated (`Try`) so one failure never
  *    aborts siblings (`:460-471`). Correct for the reference's stated
  *    driver envelope (≤ ~50 reports, `README.md:204-207`).
  *
  *  - [[runDistributed]] ≈ the `foreachPartition` variant
  *    (`databricks/talkdesk_databricks_etl_distributed.py:192-256`):
  *    `⌈n/100⌉` slices of the task list spread reports across executors
  *    (`PARTITION_TARGET_SIZE = 100`, `:39`), each partition builds its own
  *    token manager (`:70-76`) and gathers its reports concurrently, as the
  *    reference's per-partition asyncio loop does (`:78-95`) — at most
  *    [[PartitionTargetSize]] in flight per partition. Both modes fan out
  *    through the same code. Crucially the rebuild returns results
  *    through `mapPartitions` instead of calling `spark` on executors (the
  *    reference's hazard, SURVEY §3.2), and the driver lands ALL monitoring
  *    rows in ONE batched append — no per-row Spark jobs. This is the shape
  *    that holds at 1000 executors: per-partition work is pure, monitoring
  *    writes are O(runs), not O(reports).
  */
object Orchestrator {

  /** Everything a task needs, resolved from config join A3/A4. */
  final case class ReportTask(
      run_id: String,
      report_name: String,
      retries: Int,
      timeout_sec: Int,
      from_date: String,
      to_date: String)

  final case class RunResult(job: JobRun, reports: Seq[ReportRun])

  /** E5: date defaulting — from=yesterday, to=today (UTC), `yyyy-MM-dd`
    * (`databricks/talkdesk_databricks_etl.py:495-497`).
    */
  def defaultDates(today: java.time.LocalDate = java.time.LocalDate.now(java.time.ZoneOffset.UTC)): (String, String) =
    (today.minusDays(1).toString, today.toString)

  /** Fetch one report's raw CSV: token → generate → download. The retry
    * shell wraps each remote call, the token fetch included, with the
    * task's own budget (`retries`, base `backoffBase` ×2); generate and
    * download also run under the per-call total timeout (`timeout_sec` —
    * the reference's per-report setting, 60 s for call_details), per
    * `databricks/talkdesk_databricks_etl.py:390-471`. A timed-out call
    * counts as retriable, like the reference's `TimeoutError` arm
    * (`local/async_utils.py:44-47`). The one per-report core: both
    * orchestrator modes and the DSv2 `ReportPartitionReader` call it.
    */
  def fetchReport(
      source: ReportSource,
      tokens: TokenManager,
      task: ReportTask,
      backoffBase: FiniteDuration = 1.second): String = {
    def timed[T](op: => T): T =
      try Await.result(Future(op)(ExecutionContext.global), task.timeout_sec.seconds)
      catch {
        case _: concurrent.TimeoutException =>
          throw Retry.RetriableFailure(s"call timed out after ${task.timeout_sec}s")
      }
    val token = Retry.retry(task.retries, backoffBase)(_ => tokens.token)
    val reportId = Retry.retry(task.retries, backoffBase)(_ =>
      timed(source.generateReport(token, task.report_name, task.from_date, task.to_date)))
    Retry.retry(task.retries, backoffBase)(_ => timed(source.downloadReport(token, reportId)))
  }

  /** Process one report: [[fetchReport]] → count → write → row. An empty
    * payload or any failure becomes a FAILED row, never an exception.
    */
  def processReport(
      source: ReportSource,
      tokens: TokenManager,
      outBase: String,
      task: ReportTask,
      backoffBase: FiniteDuration = 1.second,
      now: () => Instant = () => Instant.now()): ReportRun = {
    val start = Timestamp.from(now())
    val attempt = Try {
      val csv = fetchReport(source, tokens, task, backoffBase)
      val rows = CsvIO.countCsvRows(csv)
      if (rows == 0)
        throw Retry.TerminalFailure(s"no data returned for ${task.report_name}")
      CsvIO.writeTextVerbatim(
        CsvIO.outputPath(outBase, task.report_name, task.from_date, task.to_date), csv)
      rows
    }
    val end = Timestamp.from(now())
    attempt match {
      case TrySuccess(rows) =>
        ReportRun(task.run_id, task.report_name, task.from_date, task.to_date,
          start, end, Status.Success, rows, None)
      case Failure(e) =>
        ReportRun(task.run_id, task.report_name, task.from_date, task.to_date,
          start, end, Status.Failed, 0, Option(e.getMessage))
    }
  }

  private def finalizeJob(
      runId: String, fromDate: String, toDate: String,
      jobStart: Timestamp, reports: Seq[ReportRun],
      now: () => Instant): RunResult = {
    val ok = reports.count(_.status == Status.Success).toLong
    val fail = reports.size.toLong - ok
    val job = JobRun(runId, fromDate, toDate, jobStart,
      Some(Timestamp.from(now())), Status.derive(ok, fail),
      reports.size, ok.toInt, fail.toInt, None)
    RunResult(job, reports)
  }

  /** The run's tasks from the config layer (A5): one per enabled report of
    * `env`, sorted by report name. [[ConfigTables.resolvedReportSpecs]] is
    * a local relation, so this collect runs no Spark job.
    *
    * Measured with etlbench on a 4-core host:
    *  - A variant with no Dataset at all (tasks built from the seed rows in
    *    Scala) cut the `config.tasks` span from 1,927 to 10 ms on
    *    `envelope` (traced, seed 1), but grew `append_running` from 2,231 to 3,755 ms, and
    *    `job_s` was unchanged (10.15 vs 10.16 s): the first Spark action's
    *    JVM warm-up only moves to the next action. Rejected; the config
    *    stays a relation that callers can query.
    *  - The local relation's gain is landing time, not `job_s`: `envelope`
    *    report landing p50 went 5.61 → 4.67 s over 3 interleaved pairs
    *    against the broadcast join, while `job_s` stayed at 10.18 vs
    *    10.18 s.
    */
  def tasksFor(spark: SparkSession, env: String, runId: String,
      fromDate: String, toDate: String): Seq[ReportTask] = {
    import spark.implicits._
    // bounded by contract (≤ tens of reports) — collect is justified, A5
    ConfigTables.resolvedReportSpecs(spark, env)
      .select("report_name", "retries", "timeout_sec")
      .as[(String, Int, Int)]
      .collect()
      .toSeq
      .sortBy(_._1)
      .map { case (name, r, t) => ReportTask(runId, name, r, t, fromDate, toDate) }
  }

  /** Driver-parallel mode (E1): all reports in flight at once, like the
    * reference's unbounded `asyncio.gather`
    * (`databricks/talkdesk_databricks_etl.py:558`).
    */
  def runDriverParallel(
      source: ReportSource,
      tokens: TokenManager,
      tasks: Seq[ReportTask],
      outBase: String,
      fromDate: String,
      toDate: String,
      backoffBase: FiniteDuration = 1.second,
      now: () => Instant = () => Instant.now())(implicit ec: ExecutionContext): RunResult = {
    val runId = tasks.headOption.map(_.run_id).getOrElse(UUID.randomUUID().toString)
    val jobStart = Timestamp.from(now())
    val reports = fanOut(source, tokens, tasks, outBase, backoffBase, now)
    finalizeJob(runId, fromDate, toDate, jobStart, reports, now)
  }

  /** The one fan-out both modes share: every task in flight at once on
    * `ec`, each isolated by [[processReport]].
    *
    * Measured and rejected: a cached thread pool per fan-out (one thread
    * per report and per call) instead of `ExecutionContext.global` in
    * distributed mode. On the 1,000-report, 10-partition `fleet` bench
    * workload (4-core host, traced) the job took 15.4 s against 12.5 s on
    * `global`, with 962 threads at peak, a 113 ms median client-side excess
    * per HTTP call against 14 ms, and 4 generate calls retried.
    *
    * Measured and rejected: marking each HTTP call `blocking`, so that
    * `global` adds threads while calls wait. On `fleet` it raised the mean
    * number of reports in flight from 21 to 66 and the median client-side
    * excess per call from 15 to 90 ms, yet left the fan-out at 4.8 s. On 4
    * cores `fleet`'s fan-out is CPU-bound, not concurrency-bound.
    */
  private def fanOut(
      source: ReportSource,
      tokens: TokenManager,
      tasks: Seq[ReportTask],
      outBase: String,
      backoffBase: FiniteDuration,
      now: () => Instant)(implicit ec: ExecutionContext): Seq[ReportRun] =
    Await.result(
      Future.traverse(tasks)(t => Future(processReport(source, tokens, outBase, t, backoffBase, now))),
      10.minutes)

  /** Reports per Spark partition — the reference's `PARTITION_TARGET_SIZE`
    * (`databricks/talkdesk_databricks_etl_distributed.py:39`).
    */
  val PartitionTargetSize = 100

  /** Distributed mode (A11/A12/A13): fan tasks over executors, return
    * ReportRun rows to the driver. The task list is sliced with
    * `parallelize` into ⌈n/[[PartitionTargetSize]]⌉ partitions whose sizes
    * differ by at most one — the even spread the reference's round-robin
    * `repartition` gives, without its shuffle or an encoder round trip for
    * tasks and results. `sourceFactory`/`tokenFactory` are called once per
    * partition on the executor: a fresh source and token manager per
    * partition, as the reference builds a session and token manager per
    * partition (`databricks/talkdesk_databricks_etl_distributed.py:70-76`);
    * an `HttpReportSource` sends through its JVM's one `HttpClient`. Each
    * partition then gathers its reports concurrently through [[fanOut]] on
    * `ExecutionContext.global`, like the reference's per-partition
    * `asyncio.gather` (`:78-95`): at most [[PartitionTargetSize]] reports
    * are in flight per partition.
    */
  def runDistributed(
      spark: SparkSession,
      sourceFactory: () => ReportSource,
      tokenFactory: () => TokenManager,
      tasks: Seq[ReportTask],
      outBase: String,
      fromDate: String,
      toDate: String,
      backoffBase: FiniteDuration = 1.second): RunResult = {
    val runId = tasks.headOption.map(_.run_id).getOrElse(UUID.randomUUID().toString)
    val jobStart = Timestamp.from(Instant.now())
    val nPartitions = math.max(1, math.ceil(tasks.size.toDouble / PartitionTargetSize).toInt)
    val runs = spark.sparkContext
      .parallelize(tasks, nPartitions) // even slices, A11
      .mapPartitions { it =>
        val source = sourceFactory()
        val tokens = tokenFactory()
        fanOut(source, tokens, it.toVector, outBase, backoffBase, () => Instant.now())(
          ExecutionContext.global).iterator
      }
      .collect() // bounded: one row per report, not per data row
      .toSeq
    finalizeJob(runId, fromDate, toDate, jobStart, runs, () => Instant.now())
  }
}
